"""The items store (K5) — the engine's system-of-record on plain parquet.

The reference's store is a SQLite file with six indexes (hnarchive.py:34-78).
Here it is a partitioned parquet directory with layout chosen per SURVEY
§1.4: partitioned by ``id_bucket`` (id div bucket_size — the pruning unit for
merges and id-range scans) then ``type`` (the composite-index column), sorted
by ``id`` within files so min-max stats give point-lookup file skipping, and
with the ``age_at_retrieval`` expression-index column materialized.

Writes are versioned directories + an atomic `_CURRENT` pointer swap — the
commit boundary (K1): readers always see a complete snapshot, a crashed
write leaves the previous version intact (the parquet stand-in for a Delta
transaction; on a real deployment this class would wrap a Delta/Iceberg
table and ``merge_batch`` would emit MERGE INTO).

Merge cost (the reference's 200-id commit cadence, hnarchive.py:255-262):
``merge_batch`` joins and rewrites ONLY the id buckets the batch touches;
every other bucket is copied forward into the new snapshot as hardlinks —
byte-identical files, O(1) I/O per file, the filesystem analog of a Delta
manifest referencing unchanged data files.  A 200-id commit against a 25M-row
store therefore rewrites ~1 bucket, not the store.

Commit record: the ``_CURRENT`` pointer is the one record a commit
writes (sources/index_version.py), and it carries the snapshot's
``bucket_size`` and ``max_id`` next to its version — so a commit is one
rename, and the granularity and offset a reader sees always belong to
the snapshot it resolves.  ``latest_id`` reads ``max_id`` instead of
scanning the store.  The value comes from jobs the commit runs anyway:
the bucket-listing aggregate of a merge, or an ``Observation`` on the
frame a full rewrite or delete writes.  A store whose record has no
``max_id`` (an older store: a bare-int pointer, per-version ``_MAX_ID``
files) is scanned once, and the next commit records it.
"""

from __future__ import annotations

import os
import shutil

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.types import LongType, StructField, StructType

from hnarchive_spark.operators.merge import merge_items
from hnarchive_spark.schema import ITEMS_SCHEMA
from hnarchive_spark.sources.index_version import (
    checkpoint_count,
    current_index_version,
    publish_index_version,
    read_index_record,
    read_json,
    retain,
)

_BUCKET_COL = "id_bucket"

# Snapshot schema as written by _write_snapshot: the items columns plus the
# id_bucket partition column (``type`` doubles as the second partition key
# but keeps its ITEMS_SCHEMA slot).  Used to skip footer schema inference
# on every bucketed read.
_RAW_SCHEMA = StructType(
    list(ITEMS_SCHEMA.fields) + [StructField(_BUCKET_COL, LongType())]
)


class ItemsStore:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keep_versions: int = 2,
        bucket_size: int = 100_000,
    ):
        self.spark = spark
        self.path = path
        # snapshots retained beyond the current one (cheap time travel /
        # safe rollback window — the parquet analog of Delta VACUUM policy)
        self.keep_versions = max(0, keep_versions)
        os.makedirs(path, exist_ok=True)
        # merge/prune granularity: ids per bucket.  100k buckets a 25M-row
        # store into 250 partitions; a 200-id commit touches 1-2 of them.
        # The granularity is PERSISTED and wins over the constructor arg:
        # the on-disk id_bucket dirs encode one specific granularity, and a
        # reopen with a different bucket_size would misprune merges (touched
        # buckets computed at the new size, copy-forward listed at the old).
        # Read order: the commit record, then the root _META.json an older
        # store wrote, then the constructor arg (a brand-new store).
        persisted = (read_index_record(path) or {}).get("bucket_size") or read_json(
            os.path.join(path, "_META.json"), {}
        ).get("bucket_size")
        self.bucket_size = max(1, int(persisted or bucket_size))

    # -- snapshot management -------------------------------------------------

    def _current_version(self) -> int | None:
        return current_index_version(self.path)

    def _version_dir(self, v: int) -> str:
        return os.path.join(self.path, f"v{v:06d}")

    def versions(self) -> list[int]:
        """Snapshot versions currently on disk (ascending)."""
        out = []
        for name in os.listdir(self.path):
            if name.startswith("v") and name[1:].isdigit():
                out.append(int(name[1:]))
        return sorted(out)

    def _read_raw(self, version: int | None = None) -> DataFrame:
        """Snapshot INCLUDING the ``id_bucket`` partition column."""
        v = self._current_version() if version is None else version
        if v is None:
            return (
                self.spark.createDataFrame([], schema=ITEMS_SCHEMA)
                .withColumn(_BUCKET_COL, F.lit(0).cast("long"))
            )
        if version is not None and version not in self.versions():
            raise ValueError(
                f"version {version} not retained (have {self.versions()})"
            )
        d = self._version_dir(v)
        # Bucketed layouts (every snapshot this class writes) are read with
        # the schema PINNED: the store knows its own schema, so paying
        # parquet-footer inference on every commit is pure per-commit floor
        # (measured ~84 ms/commit at sf0.1, BENCH_NOTES r10; perfbench's
        # traced items_store.merge_batch_s tracks the commit cost).  Only a
        # LEGACY un-bucketed dir (loose parquet files, no id_bucket=
        # partitions) keeps inference, so the migration fallback in
        # merge_batch still sees the true columns.
        # A zero-row snapshot (no partition dirs at all — a store whose
        # first commit was an empty batch) also takes the pinned path:
        # inference would fail on it, the pinned read correctly returns
        # an empty frame.
        if self._legacy_layout(os.listdir(d)):
            return self.spark.read.parquet(d)
        return self.spark.read.schema(_RAW_SCHEMA).parquet(d)

    @staticmethod
    def _legacy_layout(names: list[str]) -> bool:
        """A snapshot dir NOT written by :meth:`_write_snapshot`: loose
        parquet files with no ``id_bucket=`` partitions, or partition
        directories keyed by anything OTHER than ``id_bucket`` (ADVICE
        r18: a store partitioned by a foreign key would otherwise be
        misread with the pinned _RAW_SCHEMA).  Mirrors _read_raw's
        documented assumptions."""
        foreign = any(
            "=" in n and not n.startswith(f"{_BUCKET_COL}=") for n in names
        )
        loose = any(n.endswith(".parquet") for n in names) and not any(
            n.startswith(f"{_BUCKET_COL}=") for n in names
        )
        return foreign or loose

    def read(self, version: int | None = None) -> DataFrame:
        """Read the current snapshot, or a retained past one (time travel).

        The internal ``id_bucket`` partition column is dropped — the public
        schema is exactly the items schema (it is derivable as
        ``id div bucket_size``)."""
        return self._read_raw(version).drop(_BUCKET_COL)

    def _write_snapshot(self, df: DataFrame, out: str) -> None:
        (
            df.withColumn(_BUCKET_COL, F.expr(f"id div {self.bucket_size}"))
            .repartition(_BUCKET_COL, "type")
            .sortWithinPartitions("id")
            .write.mode("overwrite")
            .option("compression", "zstd")
            .partitionBy(_BUCKET_COL, "type")
            .parquet(out)
        )

    @staticmethod
    def _link_forward(src: str, dst: str) -> None:
        """Copy-forward a partition subtree as hardlinks (byte-identical,
        O(1) I/O per file); falls back to a real copy across devices."""
        for root, _dirs, files in os.walk(src):
            rel = os.path.relpath(root, src)
            target_dir = os.path.join(dst, rel) if rel != "." else dst
            os.makedirs(target_dir, exist_ok=True)
            for name in files:
                s, t = os.path.join(root, name), os.path.join(target_dir, name)
                try:
                    os.link(s, t)
                except OSError:
                    shutil.copy2(s, t)

    def _committed_max(self, v: int) -> int:
        """Max id of snapshot ``v``: the commit record's when ``v`` is the
        published version, else one scan (a record written before max ids
        were recorded, or a version not yet published; 0 when empty)."""
        rec = read_index_record(self.path) or {}
        if rec.get("version") == v and "max_id" in rec:
            return int(rec["max_id"])
        m = self._read_raw(v).agg(F.max("id").alias("m")).collect()[0]["m"]
        return int(m or 0)

    def _publish(self, new: int, max_id: int) -> None:
        """The commit: one record names version ``new``, its granularity
        and its max id.  Then vacuum snapshots older than the retention
        window (hardlinked files shared with newer snapshots survive)."""
        publish_index_version(
            self.path, new, {"bucket_size": self.bucket_size, "max_id": int(max_id)}
        )
        retain(self.path, self.keep_versions)

    def _commit(self, df: DataFrame) -> None:
        """K1 commit: write a full new version dir, then publish it by one
        atomic rename (durability: see sources/index_version.py).  The max
        id is observed on the write job itself."""
        old = self._current_version()
        new = (old or 0) + 1
        obs = Observation()
        self._write_snapshot(df.observe(obs, F.max("id").alias("m")), self._version_dir(new))
        try:
            max_id = obs.get["m"] or 0
        except Py4JJavaError:
            # the optimizer removed the observed plan (a provably empty
            # input, e.g. a first commit of an empty batch): scan what was
            # written, which has no record yet
            max_id = self._committed_max(new)
        self._publish(new, max_id)

    # -- the reference's store API -------------------------------------------

    def merge_batch(self, updates: DataFrame, seq_col: str | None = None) -> None:
        """K2 insert_items: one merge per batch (the commit cadence of the
        reference's commit_period becomes the batch boundary).

        Partition-pruned: the full-outer merge join and the rewrite are
        restricted to the id buckets present in the batch; untouched buckets
        are hardlinked forward unchanged (`test_store_layout.py` asserts
        byte-identity across a merge)."""
        item_cols = [f.name for f in ITEMS_SCHEMA.fields]
        old_v = self._current_version()
        if old_v is None:
            merged = merge_items(self.read().select(*item_cols), updates, seq_col=seq_col)
            self._commit(merged)
            return
        # legacy detection straight from the version dir's entries — the
        # pruned path below never builds a whole-store DataFrame, so the
        # per-commit driver file-listing is O(touched buckets), not
        # O(store) (guide §6: listing is driver-side, single-process work;
        # at production bucket counts the full-store InMemoryFileIndex
        # walk per 200-row commit IS the commit floor)
        d = self._version_dir(old_v)
        if self._legacy_layout(os.listdir(d)):
            # legacy layout (no id_bucket partitions): fall back to a full
            # merge once; the rewrite migrates the store to bucketed dirs
            raw = self.spark.read.parquet(d)
            merged = merge_items(raw.select(*item_cols), updates, seq_col=seq_col)
            self._commit(merged)
            return
        # materialize the batch once: it feeds two consumers (touched-bucket
        # listing + the merge) and may be an HTTP fetch pipeline that must
        # not re-run per action.  persist + the bucket-listing collect does
        # both in ONE job (the eager localCheckpoint used here before was a
        # separate whole-batch pass per commit purely to cut lineage).
        # Guarantee scope, stated honestly (ADVICE r18): in the
        # single-process local deployment a cached block cannot be lost, so
        # the batch is computed exactly once.  On a real cluster a lost
        # executor would silently RECOMPUTE lost partitions from lineage —
        # a nondeterministic source could then diverge between the listing
        # and the merge (localCheckpoint would fail-stop instead).  If
        # exactly-once fetch is contractual there, use a reliable
        # checkpoint / persisted staging table for the batch.
        from pyspark import StorageLevel

        updates = updates.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            self._merge_pruned(updates, item_cols, old_v, seq_col)
        finally:
            updates.unpersist()

    def _merge_pruned(self, updates, item_cols, old_v, seq_col) -> None:
        # one job lists the touched buckets AND the batch's max id
        buckets = (
            updates.groupBy(F.expr(f"id div {self.bucket_size}").alias("b"))
            .agg(F.max("id").alias("m"))
            .collect()
        )
        touched = sorted(r["b"] for r in buckets)
        new_max = max([self._committed_max(old_v)] + [r["m"] for r in buckets])
        if not touched:
            # Zero-row batch (an idle livestream tick committing on cadence):
            # the merge is the identity, so skip the merge plan and the
            # snapshot write JOB entirely — hardlink the whole previous
            # snapshot forward and swap. Drops the measured commit floor
            # from ~0.64 s to ~0.14 s (snapshot open, batch checkpoint and
            # bucket listing are still paid before this point; link+swap
            # itself is ~0.01 s — BENCH_NOTES r10; perfbench's traced
            # items_store.merge_batch_s tracks it now). Schema errors must
            # still fail FAST on idle ticks — a misconfigured stream would
            # otherwise commit versions happily until the first non-empty
            # batch — so run the SAME analysis the real merge performs:
            # build (never execute) the merge plan against a 0-row current.  Spark analyzes DataFrames eagerly,
            # so missing columns AND type mismatches the join/coalesce spec
            # would reject surface here, on the idle tick.
            if seq_col is not None and seq_col not in updates.columns:
                raise ValueError(f"seq_col {seq_col!r} not in batch columns")
            probe = merge_items(
                self.spark.createDataFrame([], schema=ITEMS_SCHEMA).select(*item_cols),
                updates,
                seq_col=seq_col,
            )
            # analysis alone lets Spark COERCE a mistyped column (a string
            # score coalesces to string) — exactly the drift a non-empty
            # merge would then write into the snapshot schema.  Reject any
            # batch whose merged plan doesn't come out at ITEMS_SCHEMA.
            expect = {f.name: f.dataType for f in ITEMS_SCHEMA.fields}
            got = {f.name: f.dataType for f in probe.schema.fields}
            if got != expect:
                bad = sorted(c for c in expect if got.get(c) != expect[c])
                raise ValueError(
                    f"idle-tick batch schema would drift the store: "
                    f"{[(c, str(got.get(c)), str(expect[c])) for c in bad]}"
                )
            new_v = old_v + 1
            out = self._version_dir(new_v)
            # a dir left by a commit that crashed before its swap
            shutil.rmtree(out, ignore_errors=True)
            self._link_forward(self._version_dir(old_v), out)
            self._publish(new_v, new_max)
            return
        # read ONLY the touched bucket subtrees (basePath keeps the
        # partition columns): the driver lists O(touched) directories per
        # commit instead of walking the whole store's partition tree —
        # the same rows the old whole-store read + isin partition filter
        # produced, without the O(store) InMemoryFileIndex build.  A
        # touched bucket with no dir yet (a brand-new id range) simply
        # contributes no current rows, exactly as the filter did.
        old_dir = self._version_dir(old_v)
        bucket_dirs = [
            p
            for b in touched
            if os.path.isdir(p := os.path.join(old_dir, f"{_BUCKET_COL}={b}"))
        ]
        if bucket_dirs:
            current = (
                self.spark.read.schema(_RAW_SCHEMA)
                .option("basePath", old_dir)
                .parquet(*bucket_dirs)
                .select(*item_cols)
            )
        else:
            current = self.spark.createDataFrame([], schema=ITEMS_SCHEMA).select(
                *item_cols
            )
        merged = merge_items(current, updates, seq_col=seq_col)
        new_v = old_v + 1
        out = self._version_dir(new_v)
        self._write_snapshot(merged, out)
        # copy-forward every untouched bucket from the previous snapshot
        touched_set = set(touched)
        for name in os.listdir(old_dir):
            if not name.startswith(f"{_BUCKET_COL}="):
                continue
            if int(name.split("=", 1)[1]) in touched_set:
                continue
            self._link_forward(os.path.join(old_dir, name), os.path.join(out, name))
        self._publish(new_v, new_max)

    def delete_ids(self, ids: list[int]) -> int:
        """Targeted hard delete (the right-to-be-forgotten path a training
        store needs; no reference analog).  Same pruned shape as merge:
        only buckets containing requested ids are rewritten (anti-join),
        all others hardlink forward; returns the number of rows removed.
        """
        old_v = self._current_version()
        if old_v is None or not ids:
            return 0
        item_cols = [f.name for f in ITEMS_SCHEMA.fields]
        raw = self._read_raw()
        if _BUCKET_COL not in raw.columns:
            kept = raw.select(*item_cols).filter(~F.col("id").isin(ids))
            removed = raw.count() - kept.count()
            if removed:
                self._commit(kept)
            return removed
        touched = sorted({int(i) // self.bucket_size for i in ids})
        current = raw.filter(F.col(_BUCKET_COL).isin(touched)).select(*item_cols)
        kept, n_kept = checkpoint_count(current.filter(~F.col("id").isin(ids)))
        removed = current.count() - n_kept
        if not removed:
            return 0
        new_v = old_v + 1
        out = self._version_dir(new_v)
        old_dir = self._version_dir(old_v)
        touched_set = set(touched)
        untouched = [
            n
            for n in os.listdir(old_dir)
            if n.startswith(f"{_BUCKET_COL}=") and int(n.split("=", 1)[1]) not in touched_set
        ]
        if n_kept == 0 and not untouched:
            # store emptied: a partitioned write of zero rows leaves an
            # unreadable dir (no files, no schema) — write one schema-ful
            # empty file instead
            (
                kept.withColumn(_BUCKET_COL, F.expr(f"id div {self.bucket_size}"))
                .write.mode("overwrite")
                .parquet(out)
            )
        else:
            self._write_snapshot(kept, out)
            for name in untouched:
                self._link_forward(os.path.join(old_dir, name), os.path.join(out, name))
        new_max = self._committed_max(old_v)
        if new_max in {int(i) for i in ids}:
            # the max was deleted: scan the snapshot just written (no record yet)
            new_max = self._committed_max(new_v)
        self._publish(new_v, new_max)
        return removed

    def compact(self, bucket_size: int) -> None:
        """Re-bucket the store at a coarser (or finer) granularity — the
        small-file compaction step (the plain-parquet analog of Delta
        OPTIMIZE / Iceberg rewrite_data_files).

        Years of 200-row commits leave one (id_bucket, type) leaf dir per
        ~bucket_size ids; once the store is large and cold, a bigger bucket
        means fewer, larger files (better scan throughput, fewer file-open
        round trips at 100 TB) at the cost of a larger rewrite unit for
        future merges — the classic ingest-vs-scan trade, now tunable after
        the fact.  The rewrite is one full pass (expensive by design, run it
        rarely); it commits as a normal versioned snapshot, so readers never
        see a half-compacted store and time travel across the compaction
        keeps working.  The new granularity is recorded in the same commit
        record as the snapshot it describes, so a crash before that rename
        leaves both the old snapshot and the old granularity."""
        if bucket_size < 1:
            raise ValueError("bucket_size must be >= 1")
        item_cols = [f.name for f in ITEMS_SCHEMA.fields]
        current = self.read().select(*item_cols).localCheckpoint(eager=True)
        old, self.bucket_size = self.bucket_size, bucket_size
        try:
            self._commit(current)
        except BaseException:
            self.bucket_size = old
            raise

    def leaf_file_count(self, version: int | None = None) -> int:
        """Number of parquet data files in a snapshot (compaction metric)."""
        v = self._current_version() if version is None else version
        if v is None:
            return 0
        n = 0
        for _root, _dirs, files in os.walk(self._version_dir(v)):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    def latest_id(self) -> int:
        """Q4 select_latest_id (offset recovery, hnarchive.py:285-290): the
        commit record's max id, so no Spark job runs."""
        v = self._current_version()
        return 0 if v is None else self._committed_max(v)

    def count(self) -> int:
        return self.read().count()
