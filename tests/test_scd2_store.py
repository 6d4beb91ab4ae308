"""Persisted SCD2 dimension store (sources/scd2_store.py) + streaming
maintenance (streaming/index_maint.maintain_scd2): the maintained
dimension must equal the full batch recompute, appends must be
bucket-pruned (untouched buckets inode-stable) and restart-idempotent
(re-delivered batches apply zero events and write nothing)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hnarchive_spark.operators.scd2 import close_intervals, scd2_runs
from hnarchive_spark.sources.scd2_store import (
    N_BUCKETS,
    append_scd2,
    build_scd2_store,
    read_scd2,
)
from hnarchive_spark.streaming.index_maint import maintain_scd2, stream_maintenance
from hnarchive_spark.tables import load

SF = "/root/testdata/sf0.001"

SPLIT1 = "2024-01-20 00:00:00"
SPLIT2 = "2024-01-25 00:00:00"


def _events(spark):
    return load(spark, SF, "events").select("user_id", "ts", "event_id", "event_type")


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_ino, st.st_size)
    return out


def _dim_rows(spark, path):
    return sorted(tuple(r) for r in read_scd2(spark, path).collect())


def _full_rows(spark):
    full = close_intervals(scd2_runs(_events(spark)))
    return sorted(tuple(r) for r in full.collect())


def test_build_append_append_equals_full_recompute(spark, tmp_path):
    e = _events(spark)
    path = str(tmp_path / "dim")
    build_scd2_store(spark, e.filter(F.col("ts") < SPLIT1), path)
    n1 = append_scd2(
        spark, e.filter((F.col("ts") >= SPLIT1) & (F.col("ts") < SPLIT2)), path
    )
    n2 = append_scd2(spark, e.filter(F.col("ts") >= SPLIT2), path)
    assert n1 > 0 and n2 > 0
    assert _dim_rows(spark, path) == _full_rows(spark)


def test_redelivered_batch_is_noop_and_writes_nothing(spark, tmp_path):
    e = _events(spark)
    path = str(tmp_path / "dim")
    build_scd2_store(spark, e.filter(F.col("ts") < SPLIT2), path)
    batch = e.filter(F.col("ts") >= SPLIT2)
    assert append_scd2(spark, batch, path) == batch.count()
    before = _files(path)
    # the at-least-once worst case: the exact same batch re-delivered
    assert append_scd2(spark, batch, path) == 0
    assert _files(path) == before
    assert _dim_rows(spark, path) == _full_rows(spark)


def test_append_is_bucket_pruned(spark, tmp_path):
    """A batch touching a strict user subset must leave every untouched
    bucket's files inode-identical — the O(batch) claim at the
    filesystem level."""
    e = _events(spark)
    path = str(tmp_path / "dim")
    build_scd2_store(spark, e.filter(F.col("ts") < SPLIT2), path)
    batch = e.filter((F.col("ts") >= SPLIT2) & (F.col("user_id") % N_BUCKETS < 4))
    assert batch.count() > 0
    touched = {f"u_bucket={b}" for b in range(4)}
    before = _files(os.path.join(path, "runs"))
    assert append_scd2(spark, batch, path) == batch.count()
    after = _files(os.path.join(path, "runs"))
    for rel, meta in before.items():
        bucket = rel.split(os.sep)[0]
        if bucket not in touched:
            assert after.get(rel) == meta, f"untouched {rel} was rewritten"


def test_late_event_is_dropped_by_frontier_guard(spark, tmp_path):
    """An event at-or-before its user's open-run frontier must be dropped
    (the SCD2 late-data policy), leaving the dimension unchanged."""
    e = _events(spark)
    path = str(tmp_path / "dim")
    build_scd2_store(spark, e, path)
    before = _dim_rows(spark, path)
    late = e.orderBy("ts", "event_id").limit(5)  # the oldest events, again
    assert append_scd2(spark, late, path) == 0
    assert _dim_rows(spark, path) == before


def test_stream_scd2_maintenance_restart_idempotent(spark, tmp_path):
    """End-to-end Structured Streaming: event files stream into the
    dimension with availableNow; a second run from a FRESH checkpoint
    (every batch re-delivered) plus newer files ends row-identical to
    the full batch recompute."""
    e = _events(spark)
    src = str(tmp_path / "src")
    path = str(tmp_path / "dim")
    build_scd2_store(spark, e.filter(F.col("ts") < SPLIT1), path)
    e.filter((F.col("ts") >= SPLIT1) & (F.col("ts") < SPLIT2)).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    schema = e.schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = stream_maintenance(stream, maintain_scd2(path), str(tmp_path / "ckpt1"))
    q.awaitTermination()

    e.filter(F.col("ts") >= SPLIT2).coalesce(1).write.mode("append").parquet(src)
    # fresh ckpt: re-deliver all
    q = stream_maintenance(stream, maintain_scd2(path), str(tmp_path / "ckpt2"))
    q.awaitTermination()

    assert _dim_rows(spark, path) == _full_rows(spark)

    # ledger: the re-delivered file's events show up as skipped volume
    from hnarchive_spark.streaming.index_maint import maintenance_stats

    stats = maintenance_stats(path)
    assert stats["batches"] >= 2 and stats["skipped"] > 0


def test_maintain_scd2_empty_batch_guard(spark, tmp_path):
    e = _events(spark)
    path = str(tmp_path / "dim")
    build_scd2_store(spark, e, path)
    empty = e.filter(F.lit(False))
    assert maintain_scd2(path)(empty, batch_id=0) == 0


def test_compact_scd2_rebuckets_behind_the_pointer(spark, tmp_path):
    """Re-bucketing compaction: the dimension view must be row-identical
    across the version swap, the new layout must use the new bucket
    count (directories AND the published _META), and a LATER append must
    route by the NEW hash into the published version."""
    from hnarchive_spark.sources.scd2_store import _n_buckets, _runs_path, compact_scd2

    e = _events(spark)
    path = str(tmp_path / "dim")
    build_scd2_store(spark, e.filter(F.col("ts") < "2024-01-10"), path)
    for lo, hi in [("2024-01-10", "2024-01-15"), ("2024-01-15", "2024-01-20"),
                   ("2024-01-20", "2024-01-25")]:
        append_scd2(spark, e.filter((F.col("ts") >= lo) & (F.col("ts") < hi)), path)
    before_rows = _dim_rows(spark, path)
    assert _n_buckets(path) == N_BUCKETS

    vdir = compact_scd2(spark, path, n_buckets=8)
    assert vdir.endswith("v1")
    assert _runs_path(path).startswith(vdir)
    assert _n_buckets(path) == 8
    dirs = {d for d in os.listdir(_runs_path(path)) if d.startswith("u_bucket=")}
    assert dirs and all(int(d.split("=")[1]) < 8 for d in dirs), sorted(dirs)
    assert _dim_rows(spark, path) == before_rows

    # appends keep working against the published version + new hash
    before = _files(_runs_path(path))
    batch = e.filter((F.col("ts") >= "2024-01-25") & (F.col("user_id") % 8 == 2))
    assert append_scd2(spark, batch, path) == batch.count()
    after = _files(_runs_path(path))
    for rel, meta in before.items():
        if not rel.startswith("u_bucket=2/"):
            assert after.get(rel) == meta, f"untouched {rel} rewritten"

    # a second compaction stacks: v2, back to 32 buckets, rows preserved
    mid_rows = _dim_rows(spark, path)
    vdir2 = compact_scd2(spark, path, n_buckets=N_BUCKETS)
    assert vdir2.endswith("v2") and _n_buckets(path) == N_BUCKETS
    assert _dim_rows(spark, path) == mid_rows


def test_delete_users_scd2_right_to_be_forgotten(spark, tmp_path):
    """User deletion must remove every run of the named users, rewrite
    only their buckets (others inode-stable), clear an emptied bucket's
    directory, and let a deleted user restart at version 1."""
    from hnarchive_spark.sources.scd2_store import delete_users_scd2, _runs_path

    e = _events(spark)
    path = str(tmp_path / "dim")
    build_scd2_store(spark, e, path)

    users = [r[0] for r in e.select("user_id").distinct().collect()]
    # every user in bucket 3, plus one user from another bucket
    bucket3 = [u for u in users if u % N_BUCKETS == 3]
    other = next(u for u in users if u % N_BUCKETS == 7)
    victims = bucket3 + [other]
    assert bucket3, "fixture must populate bucket 3"

    runs = _runs_path(path)
    before = _files(runs)
    n_victim_rows = (
        spark.read.parquet(runs).filter(F.col("user_id").isin(victims)).count()
    )
    assert delete_users_scd2(spark, path, victims) == n_victim_rows

    after = _files(runs)
    # bucket 3 directory is gone entirely
    assert not any(rel.startswith("u_bucket=3/") for rel in after), sorted(after)[:3]
    # buckets other than 3 and 7 are byte-untouched
    for rel, meta in before.items():
        b = rel.split(os.sep)[0]
        if b not in ("u_bucket=3", "u_bucket=7"):
            assert after.get(rel) == meta, f"untouched {rel} rewritten"
    got = spark.read.parquet(runs)
    assert got.filter(F.col("user_id").isin(victims)).count() == 0

    # the forgotten user's history is gone: re-ingesting their events
    # restarts them at version 1
    re_ev = e.filter(F.col("user_id") == other)
    assert append_scd2(spark, re_ev, path) == re_ev.count()
    mine = read_scd2(spark, path).filter(F.col("user_id") == other)
    assert mine.agg(F.min("version")).collect()[0][0] == 1


def test_merge_tied_microsecond_is_deterministic(spark, tmp_path):
    """ADVICE r12 (medium): a batch event sharing the open run's last
    microsecond (larger event_id — the frontier guard admits it) must
    merge deterministically with the open run FIRST in history order.
    Fixture: single-event open run (state A) at ts T, batch event
    (state B) at the same T — both runs tie on valid_from_us."""
    from hnarchive_spark.operators.scd2 import merge_scd2_runs

    t = "2024-01-01 00:00:00"
    seed = spark.createDataFrame(
        [(7, t, 100, "A")], "user_id long, ts string, event_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    batch = spark.createDataFrame(
        [(7, t, 101, "B")], "user_id long, ts string, event_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    merged = merge_scd2_runs(scd2_runs(seed), scd2_runs(batch))
    rows = {r["version"]: r for r in merged.collect()}
    # the open run (smaller event_id at the tied ts) is version 1, the
    # batch run version 2 — on every run of the plan
    for _ in range(3):
        again = {r["version"]: r for r in merge_scd2_runs(scd2_runs(seed), scd2_runs(batch)).collect()}
        assert {v: (r["state"], r["n_events"]) for v, r in again.items()} == {
            1: ("A", 1),
            2: ("B", 1),
        }
    assert rows[1]["last_event_id"] == 100 and rows[2]["last_event_id"] == 101

    # same tie with the SAME state must coalesce into one run of 2 events
    batch_same = batch.withColumn("event_type", F.lit("A"))
    one = merge_scd2_runs(scd2_runs(seed), scd2_runs(batch_same)).collect()
    assert len(one) == 1 and one[0]["n_events"] == 2 and one[0]["last_event_id"] == 101


def test_delete_users_scd2_negative_user_id(spark, tmp_path):
    """ADVICE r12: victim buckets must use the SAME truncated-modulo hash
    as the write path — a negative user_id lives in a negative Spark
    bucket, and Python's floored % would prune the wrong one, silently
    deleting nothing."""
    from hnarchive_spark.sources.scd2_store import delete_users_scd2, _runs_path

    path = str(tmp_path / "dim")
    ev = spark.createDataFrame(
        [
            (-7, "2024-01-01 00:00:00", 1, "A"),
            (-7, "2024-01-02 00:00:00", 2, "B"),
            (9, "2024-01-01 00:00:00", 3, "A"),
        ],
        "user_id long, ts string, event_id long, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    build_scd2_store(spark, ev, path)
    runs = _runs_path(path)
    stored = {r[0] for r in spark.read.parquet(runs).select("u_bucket").distinct().collect()}
    assert -7 in stored, f"fixture expects Spark's sign-preserving bucket, got {stored}"
    assert delete_users_scd2(spark, path, [-7]) == 2
    left = spark.read.parquet(runs)
    assert left.filter(F.col("user_id") == -7).count() == 0
    assert left.filter(F.col("user_id") == 9).count() == 1
