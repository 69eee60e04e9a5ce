"""KeyedTable: a persisted, partitioned, last-write-wins keyed table.

The batch materialization of the reference's Keyspace state (changelog →
compacted KV store). Backing format is parquet here (Delta Lake in a real
deployment — MERGE INTO, CDF as the change stream, vacuum for TTL); the
engine-level semantics are identical and implemented as DataFrame plans:

- write/upsert: merge_upsert (last-write-wins by event time, tombstones)
- read: compacted view; point get / prefix scan push down to the scan
- layout: repartitioned by key columns on write so equality predicates prune
  files (at 100 TB: partitionBy leading key cols + clustering/z-order)

Versioned directories + an atomic pointer file give snapshot-isolated
readers without a table format dependency:

- commits are optimistic check-and-swap under a lock file — a writer whose
  base version is no longer current raises ``ConcurrentWriteError`` instead
  of silently losing the other writer's update (the reference serializes
  writes per key through partition masters, KVStoreLocal.scala:589-631; two
  maintenance jobs on one table need the same guarantee here);
- the last ``retain_versions`` snapshots stay on disk so a lazy DataFrame
  over the previous version keeps reading during and after the next commit;
  ``vacuum_versions`` reclaims older ones;
- the pointer file also carries a bounded replay-fence ledger: a commit
  that passes ``fence=`` records it atomically with the version swap, and
  every other commit carries the ledger forward. A store whose state
  merges additively (DDStore, QualityStore) drops a batch whose fence is
  already in ``applied_fences()`` — the exactly-once marker committed
  with the snapshot it describes (Flink's checkpointed source offsets,
  Kafka's transactional commit).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from affinity_spark.operators.kv import point_get, prefix_scan
from affinity_spark.operators.upsert import merge_upsert
from affinity_spark.timerange import TimeRange


class ConcurrentWriteError(RuntimeError):
    """Another writer committed since this write's base snapshot was read
    (or holds the commit lock): retry from the new current version."""


class KeyedTable:
    #: The replay-fence ledger keeps only this many trailing fences.
    #: Structured Streaming replays at most the last uncommitted batch(es)
    #: after a restart, so a bounded window keeps the fence while holding
    #: the pointer file O(1) — an unbounded ledger is O(n) per commit and
    #: O(n^2) cumulative over a long-running stream. A MANUAL re-admit of
    #: a fence older than the window floor is applied again.
    FENCE_WINDOW = 256
    #: Commit-meta keys where DDStore and QualityStore kept their own
    #: ledgers before it moved into the pointer file. A record without
    #: ``fences`` reads its ledger from them, so a stream that resumes on
    #: a store committed by older code still fences its replayed batch;
    #: the next commit writes the ledger to ``fences``.
    _LEGACY_FENCE_KEYS = ("dd_applied", "q_applied")

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: Sequence[str],
        ts_col: str,
        tiebreak_cols: Sequence[str] = (),
        tombstone_col: str | None = None,
        num_buckets: int = 32,
        external: bool = False,
        retain_versions: int = 2,
        lock_timeout_s: float = 10.0,
        partition_col: str | None = None,
        single_file_partitions: bool = False,
    ) -> None:
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.ts_col = ts_col
        self.tiebreak_cols = list(tiebreak_cols)
        self.tombstone_col = tombstone_col
        self.num_buckets = num_buckets
        # optional hive-style partition column: snapshots are laid out as
        # <version>/<partition_col>=<value>/part-*.parquet so (a) a reader
        # filtering on it gets PartitionFilters pruning and (b)
        # ``overwrite_partitions`` can rewrite ONLY touched partitions,
        # hardlinking the untouched ones into the new snapshot — the
        # delta-proportional-IO merge the lakehouse formats do with file
        # manifests, built from plain directories + the same CAS pointer.
        self.partition_col = partition_col
        # one parquet file per partition dir: snapshots repartition BY the
        # partition column (not into num_buckets write tasks), so a store
        # whose bucket count scales with the corpus (operators/bucketing)
        # keeps file count == dir count instead of num_buckets x dirs —
        # the many-tiny-files failure of partitionBy under a wide lever.
        # Rows sort by (partition, key) within each task, so key-equality
        # scans still skip via parquet ROW-GROUP min/max stats.
        self.single_file_partitions = single_file_partitions and partition_col
        self.retain_versions = max(1, retain_versions)
        self.lock_timeout_s = lock_timeout_s
        # external = populated by another system; reads only (the
        # reference's external/readonly state rejects writes,
        # KVStoreLocalSpec.scala:58)
        self.external = external
        os.makedirs(path, exist_ok=True)

    # --- snapshot pointer ---------------------------------------------------

    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_current.json")

    def _pointer_record(self) -> dict:
        if not os.path.exists(self._pointer):
            return {}
        with open(self._pointer) as f:
            return json.load(f)

    def _current_version_dir(self) -> str | None:
        record = self._pointer_record()
        return os.path.join(self.path, record["version"]) if record else None

    @property
    def _lock(self) -> str:
        return os.path.join(self.path, "_commit.lock")

    def _acquire_lock(self) -> int:
        deadline = time.time() + self.lock_timeout_s
        while True:
            try:
                return os.open(self._lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                # break locks from dead writers (no heartbeat; mtime-aged).
                # Steal by atomic RENAME, not unlink: two waiters racing the
                # same stale lock resolve to exactly one winner; an unlink
                # could delete a FRESH lock created between stat and unlink,
                # letting two writers commit concurrently.
                try:
                    if time.time() - os.path.getmtime(self._lock) > 60:
                        stolen = f"{self._lock}.stale-{uuid.uuid4().hex[:8]}"
                        os.rename(self._lock, stolen)
                        # re-check AFTER the rename: another waiter may have
                        # stolen the stale lock and recreated a FRESH one in
                        # the window between our stat and our rename — if the
                        # file we captured is fresh it is a live writer's
                        # lock, so put it back (best effort) and keep waiting
                        if time.time() - os.path.getmtime(stolen) > 60:
                            os.unlink(stolen)
                        else:
                            try:
                                os.rename(stolen, self._lock)
                            except OSError:
                                os.unlink(stolen)
                        continue
                except OSError:
                    continue
                if time.time() > deadline:
                    raise ConcurrentWriteError(
                        f"commit lock at {self._lock} held past "
                        f"{self.lock_timeout_s}s"
                    ) from None
                time.sleep(0.05)

    def commit_meta(self) -> dict:
        """Application metadata recorded with the current commit (e.g. a
        store's lineage id or bucket count); ``{}`` before any commit."""
        return self._pointer_record().get("meta") or {}

    def applied_fences(self) -> list[str]:
        """The replay fences committed up to the current snapshot, oldest
        first (the trailing ``FENCE_WINDOW``); ``[]`` before any commit."""
        return self._fences_of(self._pointer_record())

    @classmethod
    def _fences_of(cls, record: dict) -> list[str]:
        if "fences" in record:
            return list(record["fences"] or [])
        meta = record.get("meta") or {}
        return [f for k in cls._LEGACY_FENCE_KEYS for f in meta.get(k) or []]

    def _commit_version(
        self,
        version: str,
        expected_base: str | None,
        meta: dict | None = None,
        fence: str | None = None,
        reset_fences: bool = False,
    ) -> None:
        """Check-and-swap: commit only if the current version is still the
        one this write was computed from; otherwise a concurrent writer won
        and committing would silently drop its changes. ``meta`` and the
        fence ledger ride in the pointer file atomically with the version
        swap, so "this batch was applied" and "this snapshot is current"
        are one fact. The ledger is the base commit's, read under the lock
        (``reset_fences`` starts an empty one), plus ``fence`` if given."""
        fd = self._acquire_lock()
        try:
            record = self._pointer_record()
            current = (
                os.path.join(self.path, record["version"]) if record else None
            )
            if current != expected_base:
                raise ConcurrentWriteError(
                    f"table at {self.path} moved from "
                    f"{os.path.basename(expected_base) if expected_base else None} "
                    f"to {os.path.basename(current) if current else None} during "
                    "this write; re-read and retry"
                )
            fences = [] if reset_fences else self._fences_of(record)
            if fence is not None and fence not in fences:
                fences.append(fence)
            tmp = self._pointer + ".tmp"
            with open(tmp, "w") as f:
                json.dump(
                    {
                        "version": version,
                        "committed_at": time.time(),
                        "meta": meta or {},
                        "fences": fences[-self.FENCE_WINDOW :],
                    },
                    f,
                )
            os.replace(tmp, self._pointer)
        finally:
            os.close(fd)
            try:
                os.unlink(self._lock)
            except OSError:
                pass

    def _version_dirs(self) -> list[str]:
        return sorted(
            os.path.join(self.path, d)
            for d in os.listdir(self.path)
            if d.startswith("v") and os.path.isdir(os.path.join(self.path, d))
        )

    # --- io -------------------------------------------------------------

    def exists(self) -> bool:
        return self._current_version_dir() is not None

    def read(self) -> DataFrame:
        vdir = self._current_version_dir()
        if vdir is None:
            raise FileNotFoundError(f"table at {self.path} has no committed version")
        # memoize the snapshot schema per version dir: without it every
        # read() launches a distributed footer/partition-inference job
        # over the snapshot's files (~160 ms per scan of a 128-dir table
        # locally; at cluster scale a real job over thousands of footers).
        # Snapshot dirs are immutable, so the memo can never go stale;
        # only the latest version is kept (older dirs get reclaimed).
        cached = getattr(self, "_schema_memo", None)
        if cached is None or cached[0] != vdir:
            cached = (vdir, self.spark.read.parquet(vdir).schema)
            self._schema_memo = cached
        return self.spark.read.schema(cached[1]).parquet(vdir)

    def versions(self) -> list[str]:
        """Retained snapshot version names, oldest first (bounded by the
        retention setting; older versions are reclaimed on commit)."""
        return [os.path.basename(d) for d in self._version_dirs()]

    def read_version(self, version: str) -> DataFrame:
        """Time travel: read a RETAINED historical snapshot by name.

        Snapshot reads are how a pipeline re-derives downstream state from
        the exact input a past run saw (the reference's changelog-bootstrap
        role, state/KVStoreLocal bootstrap path — here a full-snapshot read
        instead of a log replay). Only versions within the retention window
        exist; reading a reclaimed one raises like any missing table.
        """
        vdir = os.path.join(self.path, version)
        if not os.path.isdir(vdir):
            raise FileNotFoundError(
                f"version {version!r} not retained at {self.path}; "
                f"available: {self.versions()}"
            )
        return self.spark.read.parquet(vdir)

    def overwrite(
        self,
        df: DataFrame,
        expected_base: str | None = "UNSET",
        meta: dict | None = None,
        fence: str | None = None,
        reset_fences: bool = False,
    ) -> None:
        """Write a new snapshot version and CAS the pointer to it.

        ``expected_base`` is the version dir this write was computed from
        (``None`` for a first write); it defaults to the current version at
        call time — pass the captured value explicitly whenever ``df`` was
        derived from an earlier ``read()`` so a racing writer is detected.
        ``meta`` (application metadata) is committed atomically with the
        pointer swap; ``None`` carries the previous commit's metadata
        forward. ``fence`` (a replay key such as "run_id:batch_id") joins
        the fence ledger in the same swap; the ledger otherwise carries
        forward unchanged, whatever ``meta`` says, unless
        ``reset_fences`` starts an empty one (a store's full rebuild).
        A loser of the CAS records nothing.
        """
        if self.external:
            raise PermissionError(f"table at {self.path} is external/read-only")
        if expected_base == "UNSET":
            expected_base = self._current_version_dir()
        if meta is None:
            meta = self.commit_meta()
        version = f"v{int(time.time() * 1000):016d}-{uuid.uuid4().hex[:8]}"
        out = os.path.join(self.path, version)
        self._write_snapshot(df, out)
        try:
            self._commit_version(
                version, expected_base, meta, fence, reset_fences
            )
        except ConcurrentWriteError:
            shutil.rmtree(out, ignore_errors=True)  # orphaned loser snapshot
            raise
        self._reclaim_versions()

    def _write_snapshot(self, df: DataFrame, out: str) -> None:
        if self.single_file_partitions:
            # one file per partition dir: shuffle BY the partition column
            # (several dirs per task is fine — a task emits one file per
            # dir it holds), key-sorted within so row-group stats prune
            w = (
                df.repartition(F.col(self.partition_col))
                .sortWithinPartitions(self.partition_col, *self.key_cols)
                .write.mode("overwrite")
                .partitionBy(self.partition_col)
            )
            w.parquet(out)
            return
        # cluster by key so key-equality scans skip files via min/max stats;
        # with a partition column the key clustering holds WITHIN each
        # partition dir (each write task emits one file per partition it
        # holds, and each file spans one task's key range)
        w = df.repartition(self.num_buckets, *self.key_cols).write.mode("overwrite")
        if self.partition_col:
            w = w.partitionBy(self.partition_col)
        w.parquet(out)

    def overwrite_partitions(
        self,
        delta: DataFrame,
        touched: Sequence[object],
        expected_base: str | None = "UNSET",
        meta: dict | None = None,
        fence: str | None = None,
    ) -> None:
        """Partition-pruned snapshot commit: ``delta`` is the COMPLETE new
        content of the ``touched`` partition values (and must contain rows
        of those partitions only); every other partition is carried into
        the new snapshot by HARDLINKING its files from the base version —
        zero data IO for untouched partitions, so merge cost scales with
        the delta, not the table. Same CAS pointer commit as ``overwrite``
        (a racing writer loses loudly) and fence ledger; version
        reclamation only unlinks names, so inodes shared across retained
        snapshots survive it.
        """
        if self.external:
            raise PermissionError(f"table at {self.path} is external/read-only")
        if not self.partition_col:
            raise ValueError("overwrite_partitions requires partition_col")
        if expected_base == "UNSET":
            expected_base = self._current_version_dir()
        if expected_base is None:
            # nothing to carry over - identical to a first full write
            self.overwrite(delta, expected_base=None, meta=meta, fence=fence)
            return
        if meta is None:
            meta = self.commit_meta()
        version = f"v{int(time.time() * 1000):016d}-{uuid.uuid4().hex[:8]}"
        out = os.path.join(self.path, version)
        self._write_snapshot(delta, out)
        # hive dir names use the string form of the value (Spark's own
        # encoding for int/string partition values)
        touched_dirs = {f"{self.partition_col}={v}" for v in touched}
        prefix = f"{self.partition_col}="
        for entry in os.listdir(expected_base):
            src = os.path.join(expected_base, entry)
            if not (entry.startswith(prefix) and os.path.isdir(src)):
                continue
            if entry in touched_dirs:
                continue  # the delta write is this partition's new truth
            dst = os.path.join(out, entry)
            os.makedirs(dst, exist_ok=True)
            for fname in os.listdir(src):
                if fname.endswith(".parquet"):
                    os.link(os.path.join(src, fname), os.path.join(dst, fname))
        try:
            self._commit_version(version, expected_base, meta, fence)
        except ConcurrentWriteError:
            shutil.rmtree(out, ignore_errors=True)
            raise
        self._reclaim_versions()

    def _reclaim_versions(self) -> None:
        """Drop all but the newest ``retain_versions`` snapshots (never the
        current one) — snapshot-isolated readers of the previous version
        keep their files through the next commit."""
        current = self._current_version_dir()
        dirs = [d for d in self._version_dirs() if d != current]
        dirs.sort(key=os.path.getmtime)
        excess = len(dirs) - (self.retain_versions - 1)
        for d in dirs[:excess] if excess > 0 else []:
            shutil.rmtree(d, ignore_errors=True)

    def vacuum_versions(self, keep: int = 1) -> int:
        """Explicit reclamation to ``keep`` snapshots; returns dirs removed."""
        current = self._current_version_dir()
        dirs = [d for d in self._version_dirs() if d != current]
        dirs.sort(key=os.path.getmtime)
        excess = len(dirs) - (keep - 1)
        removed = 0
        for d in dirs[:excess] if excess > 0 else []:
            shutil.rmtree(d, ignore_errors=True)
            removed += 1
        return removed

    _UNSET = object()

    def upsert(self, updates: DataFrame, expected_base=_UNSET) -> None:
        """MERGE: last-write-wins by (ts, tiebreaks); tombstones delete.

        The base version is captured before the merge and CAS-verified at
        commit: two concurrent upserts cannot silently lose one side's
        updates — the loser raises ``ConcurrentWriteError``.

        ``expected_base`` lets a caller whose WRITE SET was derived from a
        specific snapshot (e.g. the gateway's insert-only anti-join) tie
        the merge to THAT base: a racing writer committing in between
        raises instead of being silently folded over (r13 ADVICE). Pass
        the version dir (or ``None`` for a first write); leave unset to
        capture the current pointer here.
        """
        base_version = (
            self._current_version_dir()
            if expected_base is KeyedTable._UNSET
            else expected_base
        )
        if base_version is None:
            merged = merge_upsert(
                updates.limit(0), updates, self.key_cols, self.ts_col,
                self.tiebreak_cols, self.tombstone_col,
            )
        else:
            merged = merge_upsert(
                self.spark.read.parquet(base_version), updates, self.key_cols,
                self.ts_col, self.tiebreak_cols, self.tombstone_col,
            )
        self.overwrite(merged, expected_base=base_version)

    # --- reads ----------------------------------------------------------

    def get(self, key: Mapping[str, object]) -> DataFrame:
        return point_get(self.read(), key)

    def scan(
        self,
        prefix: Mapping[str, object],
        time_range: TimeRange | None = None,
        ts_unit: str = "millis",
    ) -> DataFrame:
        return prefix_scan(self.read(), prefix, time_range, self.ts_col, ts_unit)

    # --- maintenance ---------------------------------------------------

    def changes_between(self, old_version: str, new_version: str) -> DataFrame:
        """Change-data-feed between two retained snapshots: one row per key
        whose state differs, classified ``insert`` / ``update`` / ``delete``
        with the old and new value structs.

        The lakehouse CDF read (Delta's ``table_changes``), and the batch
        analogue of the reference's changelog tail (X4): a downstream
        consumer that missed the live stream re-derives exactly the deltas
        by diffing the snapshots it has. Unchanged keys are dropped —
        comparison is null-safe struct equality over all non-key columns.

        Scale: both snapshots share the table's key layout, so the diff is
        one co-partitioned full-outer join (no broadcast of either side);
        with file-skipping manifests the join reads only files whose key
        envelopes overlap.
        """
        old = self.read_version(old_version)
        new = self.read_version(new_version)
        # columns may drift between snapshots (evolution is exactly when CDF
        # matters): the value struct is the UNION of both sides' non-key
        # columns, with a side's missing columns read as typed nulls.
        val_cols = [c for c in new.columns if c not in self.key_cols]
        val_cols += [
            c for c in old.columns if c not in self.key_cols and c not in val_cols
        ]
        types = {f.name: f.dataType for f in [*old.schema.fields, *new.schema.fields]}

        def side(df: DataFrame, alias: str) -> DataFrame:
            # cast BOTH sides to the resolved (new-snapshot-first) type so a
            # column whose type widened between snapshots diffs cleanly
            # instead of failing struct-equality analysis
            fields = [
                (
                    F.col(c).cast(types[c])
                    if c in df.columns
                    else F.lit(None).cast(types[c])
                ).alias(c)
                for c in val_cols
            ]
            # key-only table: presence itself is the value (struct() with
            # zero fields is invalid)
            if not fields:
                fields = [F.lit(True).alias("_present")]
            return df.select(*self.key_cols, F.struct(*fields).alias(alias))

        j = side(old, "old_values").join(
            side(new, "new_values"), self.key_cols, "full_outer"
        )
        change = (
            F.when(F.col("old_values").isNull(), F.lit("insert"))
            .when(F.col("new_values").isNull(), F.lit("delete"))
            .when(~F.col("old_values").eqNullSafe(F.col("new_values")), F.lit("update"))
        )
        return j.select(
            *self.key_cols, change.alias("change"), "old_values", "new_values"
        ).where(F.col("change").isNotNull())

    def write_manifest(self, version: str | None = None) -> dict:
        """Per-file min/max stats manifest for a snapshot, harvested from
        parquet FOOTERS (pyarrow — no Spark job, no data read).

        This is the Iceberg/Delta file-skipping move built from plain
        parquet: a point get or prefix scan consults the manifest and
        opens only files whose [min, max] envelope can contain the key,
        so serving cost scales with matching files, not table size. Call
        after a commit (opt-in — ``read_pruned`` falls back transparently
        when absent); the manifest itself is tiny (one JSON row per
        file)."""
        import pyarrow.parquet as pq

        vdir = (
            os.path.join(self.path, version)
            if version
            else self._current_version_dir()
        )
        if vdir is None or not os.path.isdir(vdir):
            raise FileNotFoundError(f"no snapshot dir to manifest at {self.path}")
        entries = []
        for fname in sorted(os.listdir(vdir)):
            if not fname.endswith(".parquet"):
                continue
            meta = pq.ParquetFile(os.path.join(vdir, fname)).metadata
            cols: dict[str, list] = {}
            for rg in range(meta.num_row_groups):
                group = meta.row_group(rg)
                for ci in range(group.num_columns):
                    col = group.column(ci)
                    st = col.statistics
                    name = col.path_in_schema
                    if st is None or not st.has_min_max or name not in self.key_cols:
                        continue
                    lo, hi = st.min, st.max
                    if name in cols:
                        cols[name] = [min(cols[name][0], lo), max(cols[name][1], hi)]
                    else:
                        cols[name] = [lo, hi]
            entries.append({"file": fname, "rows": meta.num_rows, "stats": cols})
        manifest = {"version": os.path.basename(vdir), "files": entries}
        with open(os.path.join(vdir, "_manifest.json"), "w") as f:
            json.dump(manifest, f)
        return manifest

    def read_pruned(self, key: Mapping[str, object]) -> DataFrame:
        """Point/prefix read that opens ONLY the files whose footer-stat
        envelope can contain the key (falls back to the full snapshot when
        no manifest exists). Same result as ``get``/``scan`` — the manifest
        is a pure physical optimization, which the pruning test asserts."""
        vdir = self._current_version_dir()
        if vdir is None:
            raise FileNotFoundError(f"table at {self.path} has no committed version")
        mpath = os.path.join(vdir, "_manifest.json")
        if not os.path.exists(mpath):
            return point_get(self.spark.read.parquet(vdir), key)
        with open(mpath) as f:
            manifest = json.load(f)
        keep = []
        for entry in manifest["files"]:
            ok = True
            for col, val in key.items():
                if col in entry["stats"]:
                    lo, hi = entry["stats"][col]
                    if not (lo <= val <= hi):
                        ok = False
                        break
            if ok:
                keep.append(os.path.join(vdir, entry["file"]))
        if not keep:
            return point_get(self.spark.read.parquet(vdir), key).limit(0)
        return point_get(self.spark.read.parquet(*keep), key)

    def file_stats(self) -> dict:
        """Physical layout of the current snapshot: file count + byte sizes.
        The signal a table-maintenance scheduler watches for the small-file
        problem."""
        vdir = self._current_version_dir()
        if vdir is None:
            raise FileNotFoundError(f"table at {self.path} has no committed version")
        sizes = [
            os.path.getsize(os.path.join(root, f))
            for root, _dirs, files in os.walk(vdir)
            for f in files
            if f.endswith(".parquet")
        ]
        return {
            "version": os.path.basename(vdir),
            "n_files": len(sizes),
            "total_bytes": sum(sizes),
            "max_file_bytes": max(sizes, default=0),
        }

    def compact(self, target_file_bytes: int = 128 << 20) -> dict:
        """Rewrite the current snapshot into ceil(total/target) files.

        The 100 TB small-file problem: streaming upserts commit one
        trigger's worth of rows per bucket, so a long-lived table decays
        into thousands of KB-sized parquet files whose open/footer cost
        dominates scans. Compaction is a pure physical rewrite — same rows,
        fewer files, key clustering preserved so equality scans still prune
        by min/max stats — committed through the same CAS as any write: a
        compaction racing an upsert LOSES cleanly (ConcurrentWriteError)
        instead of resurrecting pre-upsert data, mirroring how the
        reference serializes writes through partition masters
        (``core/src/main/scala/io/amient/affinity/core/util/KVStoreLocal.scala``-style
        single-writer semantics). No-op (returns current stats, no new
        version) when the table is already at or below the target count.
        """
        if self.external:
            raise PermissionError(f"table at {self.path} is external/read-only")
        base_version = self._current_version_dir()
        stats = self.file_stats()
        if self.single_file_partitions:
            # layout is already one file per partition dir, and admits
            # REPLACE whole dirs (overwrite_partitions) — there is no
            # small-file decay to repair, and a rewrite here would churn a
            # new version per maintainer tick for nothing
            return {**stats, "compacted": False, "n_files_after": stats["n_files"]}
        n_target = max(1, -(-stats["total_bytes"] // max(1, target_file_bytes)))
        if stats["n_files"] <= n_target:
            return {**stats, "compacted": False, "n_files_after": stats["n_files"]}
        df = self.spark.read.parquet(base_version)
        version = f"v{int(time.time() * 1000):016d}-{uuid.uuid4().hex[:8]}"
        out = os.path.join(self.path, version)
        w = df.repartition(n_target, *self.key_cols).write.mode("overwrite")
        if self.partition_col:
            w = w.partitionBy(self.partition_col)
        w.parquet(out)
        try:
            self._commit_version(version, base_version, self.commit_meta())
        except ConcurrentWriteError:
            shutil.rmtree(out, ignore_errors=True)
            raise
        self._reclaim_versions()
        return {
            **stats,
            "compacted": True,
            "n_files_after": self.file_stats()["n_files"],
        }

    def vacuum(self, ttl_ms: int, now_ms: int, ts_unit: str = "millis") -> int:
        """Physically drop records older than ``now - ttl`` (the scheduled
        reclamation pairing the read-side ``ttl_filter``; affinity deletes
        lazily on read, MemStore.java:140-154 — a table needs a real
        vacuum). Returns the number of rows removed."""
        from affinity_spark.operators.kv import ttl_filter

        base_version = self._current_version_dir()
        before = self.read()
        n_before = before.count()
        kept = ttl_filter(before, self.ts_col, ttl_ms, now_ms, ts_unit)
        self.overwrite(kept, expected_base=base_version)
        return n_before - self.read().count()
