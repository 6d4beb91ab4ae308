"""Physical-layout checks on the items store (SURVEY §1.4): the type
partition must prune, and the id sort must surface in parquet min-max
stats (point lookups skip files)."""

from __future__ import annotations

from hnarchive_spark.plans import fixtures as FX
from hnarchive_spark.sources.items_store import ItemsStore


def test_type_partition_pruning(spark, tmp_path):
    store = ItemsStore(spark, str(tmp_path / "store"))
    store.merge_batch(FX.items_df_with_seq(spark, FX.TREE_ITEMS), seq_col="seq")

    df = store.read().filter("type = 'comment'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the partition filter must actually mention type, i.e. pruning applies
    assert "type" in plan.split("PartitionFilters")[1][:200]
    assert df.count() == sum(1 for r in FX.TREE_ITEMS if r["type"] == "comment")


def test_time_travel_and_vacuum(spark, tmp_path):
    import pytest

    store = ItemsStore(spark, str(tmp_path / "store"), keep_versions=1)
    store.merge_batch(FX.items_df_with_seq(spark, FX.MERGE_BASE), seq_col="seq")
    v1 = store._current_version()
    n1 = store.count()
    store.merge_batch(FX.items_df_with_seq(spark, FX.MERGE_UPDATES), seq_col="seq")
    # past snapshot still readable within the retention window
    assert store.read(version=v1).count() == n1
    assert store.count() > n1
    # a third commit vacuums v1 (keep_versions=1 -> current + 1 prior)
    store.merge_batch(FX.items_df_with_seq(spark, FX.MERGE_UPDATES), seq_col="seq")
    assert v1 not in store.versions()
    with pytest.raises(ValueError, match="not retained"):
        store.read(version=v1)


def test_merge_is_partition_pruned_and_copy_forward(spark, tmp_path):
    """A merge must rewrite ONLY the id buckets the batch touches; every
    other bucket's files are copied forward byte-identical (hardlinks)."""
    import os

    store = ItemsStore(spark, str(tmp_path / "store"), bucket_size=10)
    base = [dict(r) for r in FX.MERGE_BASE]
    # spread ids across three buckets: 1-9 (b0), 11-19 (b1), 21-29 (b2)
    for i, r in enumerate(base):
        r["id"] = 1 + (i % 3) * 10 + i
    store.merge_batch(FX.items_df_with_seq(spark, base), seq_col="seq")
    v1 = store._current_version()
    v1_dir = store._version_dir(v1)

    # update touching ONLY the highest id -> exactly one touched bucket
    top = max(r["id"] for r in base)
    upd = [dict(base[0], id=top, score=999)]
    store.merge_batch(FX.items_df_with_seq(spark, upd), seq_col="seq")
    v2_dir = store._version_dir(store._current_version())

    touched = f"id_bucket={top // 10}"
    untouched = sorted(
        n for n in os.listdir(v1_dir)
        if n.startswith("id_bucket=") and n != touched
    )
    assert untouched, "test needs at least one untouched bucket"
    for bucket in untouched:
        old_files, new_files = {}, {}
        for root, _d, files in os.walk(os.path.join(v1_dir, bucket)):
            for f in files:
                p = os.path.join(root, f)
                old_files[os.path.relpath(p, v1_dir)] = p
        for root, _d, files in os.walk(os.path.join(v2_dir, bucket)):
            for f in files:
                p = os.path.join(root, f)
                new_files[os.path.relpath(p, v2_dir)] = p
        assert old_files.keys() == new_files.keys()
        for rel, old_p in old_files.items():
            with open(old_p, "rb") as a, open(new_files[rel], "rb") as b:
                assert a.read() == b.read(), f"{rel} changed across merge"
    # and the merge itself landed
    assert store.read().filter(f"id = {top}").first()["score"] == 999


def test_merge_migrates_legacy_unbucketed_store(spark, tmp_path):
    """A store written before id-bucket partitioning (type-only dirs) must
    still merge: the first merge falls back to a full rewrite and migrates
    the layout."""
    import os

    path = str(tmp_path / "legacy")
    store = ItemsStore(spark, path, bucket_size=10)
    # hand-write a legacy v1 snapshot: partitioned by type only
    base = FX.items_df_with_seq(spark, FX.MERGE_BASE).drop("seq")
    v1 = os.path.join(path, "v000001")
    base.write.mode("overwrite").partitionBy("type").parquet(v1)
    with open(os.path.join(path, "_CURRENT"), "w") as fh:
        fh.write("1")
    n0 = store.count()
    assert n0 == len(FX.MERGE_BASE)

    store.merge_batch(FX.items_df_with_seq(spark, FX.MERGE_UPDATES), seq_col="seq")
    assert store.count() >= n0
    # layout migrated: new snapshot has id_bucket dirs
    v2 = store._version_dir(store._current_version())
    assert any(n.startswith("id_bucket=") for n in os.listdir(v2))
    # and subsequent merges take the pruned path
    store.merge_batch(FX.items_df_with_seq(spark, FX.MERGE_UPDATES), seq_col="seq")
    assert store.latest_id() == max(r["id"] for r in FX.MERGE_UPDATES)


def test_delete_ids_pruned_and_durable(spark, tmp_path):
    """Targeted deletes rewrite only the buckets holding the ids; other
    buckets link forward unchanged; emptying the store stays readable."""
    import os

    store = ItemsStore(spark, str(tmp_path / "store"), bucket_size=10)
    base = [dict(r) for r in FX.MERGE_BASE]
    for i, r in enumerate(base):
        r["id"] = 1 + (i % 3) * 10 + i  # buckets 0, 1, 2
    store.merge_batch(FX.items_df_with_seq(spark, base), seq_col="seq")
    n0 = store.count()
    v1_dir = store._version_dir(store._current_version())

    victim = max(r["id"] for r in base)
    assert store.delete_ids([victim]) == 1
    assert store.count() == n0 - 1
    assert store.read().filter(f"id = {victim}").count() == 0
    # untouched buckets hardlinked (same inode)
    v2_dir = store._version_dir(store._current_version())
    b0_old = os.path.join(v1_dir, "id_bucket=0")
    b0_new = os.path.join(v2_dir, "id_bucket=0")
    old_inodes = sorted(
        os.stat(os.path.join(r, f)).st_ino
        for r, _d, fs in os.walk(b0_old) for f in fs
    )
    new_inodes = sorted(
        os.stat(os.path.join(r, f)).st_ino
        for r, _d, fs in os.walk(b0_new) for f in fs
    )
    assert old_inodes == new_inodes
    # deleting a missing id is a no-op (no new version)
    v = store._current_version()
    assert store.delete_ids([999999]) == 0
    assert store._current_version() == v
    # emptying the store entirely keeps it readable
    assert store.delete_ids([r["id"] for r in base]) == n0 - 1
    assert store.count() == 0 and store.latest_id() == 0


def test_store_roundtrip_schema_and_versions(spark, tmp_path):
    store = ItemsStore(spark, str(tmp_path / "store"))
    store.merge_batch(FX.items_df_with_seq(spark, FX.MERGE_BASE), seq_col="seq")
    v1 = store._current_version()
    store.merge_batch(FX.items_df_with_seq(spark, FX.MERGE_UPDATES), seq_col="seq")
    v2 = store._current_version()
    assert v2 == v1 + 1
    out = store.read()
    # partition column round-trips; full item schema present
    assert set(FX.ITEM_COLS) <= set(out.columns)
    assert store.latest_id() == max(r["id"] for r in FX.MERGE_UPDATES)


def test_meta_persists_bucket_size_across_reopen(spark, tmp_path):
    """The on-disk id_bucket granularity must win over a (different)
    constructor arg on reopen — otherwise merge pruning computes touched
    buckets at one size while copy-forward lists dirs at another."""
    path = str(tmp_path / "store")
    store = ItemsStore(spark, path, bucket_size=10)
    base = [dict(r, id=1 + (i % 3) * 10 + i) for i, r in enumerate(FX.MERGE_BASE)]
    store.merge_batch(FX.items_df_with_seq(spark, base), seq_col="seq")

    reopened = ItemsStore(spark, path, bucket_size=100_000)  # wrong arg
    assert reopened.bucket_size == 10  # persisted layout wins
    # and a merge through the reopened handle stays consistent
    top = max(r["id"] for r in base)
    reopened.merge_batch(
        FX.items_df_with_seq(spark, [dict(base[0], id=top, score=777)]),
        seq_col="seq",
    )
    assert reopened.count() == len({r["id"] for r in base})
    row = [r for r in reopened.read().collect() if r["id"] == top][0]
    assert row["score"] == 777


def test_compact_rebuckets_and_preserves_data(spark, tmp_path):
    """compact() must keep the row set identical, shrink the leaf-dir/file
    count, persist the new granularity, and leave prior versions readable."""
    import os

    store = ItemsStore(spark, str(tmp_path / "store"), bucket_size=10)
    base = [dict(r, id=1 + (i % 3) * 10 + i) for i, r in enumerate(FX.MERGE_BASE)]
    store.merge_batch(FX.items_df_with_seq(spark, base), seq_col="seq")
    before_rows = sorted(map(tuple, store.read().collect()))
    before_files = store.leaf_file_count()
    v1 = store._current_version()

    store.compact(bucket_size=1000)  # everything lands in one bucket

    assert sorted(map(tuple, store.read().collect())) == before_rows
    assert store.leaf_file_count() < before_files
    v2_dir = store._version_dir(store._current_version())
    buckets = {n for n in os.listdir(v2_dir) if n.startswith("id_bucket=")}
    assert buckets == {"id_bucket=0"}
    # persisted: a reopen merges at the compacted granularity
    reopened = ItemsStore(spark, store.path)
    assert reopened.bucket_size == 1000
    # time travel across the compaction still works
    assert len(store.read(version=v1).collect()) == len(before_rows)
    # and a post-compaction merge is still correct
    reopened.merge_batch(
        FX.items_df_with_seq(spark, [dict(base[0], id=5000, score=1)]),
        seq_col="seq",
    )
    assert reopened.count() == len(before_rows) + 1


def test_zero_row_merge_fast_path(spark, tmp_path):
    """A batch touching no buckets (an idle livestream tick committing on
    cadence) must still produce a commit — new version, identical data —
    but via the no-Spark-job fast path: every file of the new snapshot is
    a hardlink of the previous one (same inode), nothing is rewritten."""
    import os

    store = ItemsStore(spark, str(tmp_path / "store"), bucket_size=10)
    store.merge_batch(FX.items_df_with_seq(spark, FX.MERGE_BASE), seq_col="seq")
    v1 = store._current_version()
    n1 = store.count()

    empty = FX.items_df_with_seq(spark, FX.MERGE_BASE).filter("id < 0")
    store.merge_batch(empty, seq_col="seq")

    v2 = store._current_version()
    assert v2 == v1 + 1  # the commit IS a version
    assert store.count() == n1
    v1_dir, v2_dir = store._version_dir(v1), store._version_dir(v2)

    def inodes(root):
        out = {}
        for dirpath, _d, names in os.walk(root):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(dirpath, n)
                    out[os.path.relpath(p, root)] = os.stat(p).st_ino
        return out

    i1, i2 = inodes(v1_dir), inodes(v2_dir)
    assert i1 and i1 == i2  # every data file hardlinked, none rewritten


def test_empty_first_commit_store_still_readable(spark, tmp_path):
    """A brand-new store whose FIRST commit is an empty batch (a
    livestream that started during an idle stretch) writes a zero-row
    snapshot with no partition dirs; reads must return an empty frame
    with the items schema (pinned-schema read — footer inference would
    fail on the dir), and a later real merge must work normally."""
    store = ItemsStore(spark, str(tmp_path / "store"), bucket_size=10)
    empty = FX.items_df_with_seq(spark, FX.MERGE_BASE).filter("id < 0")
    store.merge_batch(empty, seq_col="seq")
    assert store.count() == 0
    assert store.read().columns  # schema present, not an inference error

    store.merge_batch(FX.items_df_with_seq(spark, FX.MERGE_BASE), seq_col="seq")
    assert store.count() == len(FX.MERGE_BASE)


def test_pinned_snapshot_schema_matches_written_layout(spark, tmp_path):
    """_read_raw pins _RAW_SCHEMA instead of paying footer inference; if
    _write_snapshot's layout ever drifts from it (a column added or
    retyped), the pinned read would silently null out or misread data —
    lock the pinned schema against what inference actually sees."""
    from hnarchive_spark.sources.items_store import _RAW_SCHEMA

    store = ItemsStore(spark, str(tmp_path / "store"), bucket_size=10)
    store.merge_batch(FX.items_df_with_seq(spark, FX.MERGE_BASE), seq_col="seq")
    d = store._version_dir(store._current_version())
    inferred = spark.read.parquet(d).schema
    pinned = {(f.name, f.dataType.simpleString()) for f in _RAW_SCHEMA.fields}
    seen = {(f.name, f.dataType.simpleString()) for f in inferred.fields}
    # partition columns come back with inferred types (id_bucket int vs
    # long is a known widening the pinned read performs) — compare names
    # exactly and non-partition types exactly
    assert {n for n, _ in pinned} == {n for n, _ in seen}
    part_cols = {"id_bucket", "type"}
    assert {x for x in pinned if x[0] not in part_cols} == {
        x for x in seen if x[0] not in part_cols
    }


def test_zero_row_merge_rejects_mistyped_batch(spark, tmp_path):
    """ADVICE r10: an idle tick from a MISTYPED stream must fail fast, not
    commit versions happily until the first non-empty batch. The fast path
    now builds (never executes) the real merge plan against a 0-row
    current AND pins the merged schema to ITEMS_SCHEMA — a string `score`
    that Spark would silently coerce is rejected on the idle tick."""
    import pytest
    from pyspark.sql import functions as F

    store = ItemsStore(spark, str(tmp_path / "store"), bucket_size=10)
    store.merge_batch(FX.items_df_with_seq(spark, FX.MERGE_BASE), seq_col="seq")
    v1 = store._current_version()

    good_empty = FX.items_df_with_seq(spark, FX.MERGE_BASE).filter("id < 0")

    # missing column: analysis of the merge plan fails
    with pytest.raises(Exception):
        store.merge_batch(good_empty.drop("score"), seq_col="seq")

    # mistyped column: analysis succeeds (Spark coerces the merged column
    # to DOUBLE — the classic JSON-numbers-arrive-as-doubles drift), the
    # ITEMS_SCHEMA pin catches it
    mistyped = good_empty.withColumn("score", F.col("score").cast("double"))
    with pytest.raises(ValueError, match="score"):
        store.merge_batch(mistyped, seq_col="seq")

    # neither failure committed a version
    assert store._current_version() == v1
    # and a well-typed idle tick still commits via the fast path
    store.merge_batch(good_empty, seq_col="seq")
    assert store._current_version() == v1 + 1


def test_compact_crash_before_pointer_keeps_old_granularity(spark, tmp_path, monkeypatch):
    """A compact() killed between writing its snapshot and publishing it
    must leave the old snapshot AND the old bucket_size: both live in the
    one commit record.  Were the granularity published separately, a
    reopen would merge at the new size against the old layout and leave
    the merged id in the store twice."""
    import os

    import pytest

    path = str(tmp_path / "store")
    store = ItemsStore(spark, path, bucket_size=10)
    rows = [dict(FX.MERGE_BASE[0], id=i) for i in range(1, 31)]
    store.merge_batch(FX.items_df_with_seq(spark, rows), seq_col="seq")

    real_replace = os.replace

    def crash_at_pointer(src, dst):
        if str(dst).endswith("_CURRENT"):
            raise RuntimeError("killed before the pointer swap")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_at_pointer)
    with pytest.raises(RuntimeError, match="pointer swap"):
        store.compact(100)
    monkeypatch.undo()

    reopened = ItemsStore(spark, path)
    reopened.merge_batch(
        FX.items_df_with_seq(spark, [dict(FX.MERGE_BASE[0], id=15, score=5)]),
        seq_col="seq",
    )
    ids = [r["id"] for r in reopened.read().select("id").collect()]
    assert len(ids) == len(set(ids)) == 30
    assert reopened.bucket_size == 10
