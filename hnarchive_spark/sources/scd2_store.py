"""Persisted SCD2 dimension store with bucket-pruned O(batch) appends.

Layout: ``<path>/runs`` parquet partitioned by ``u_bucket = user_id %
N_BUCKETS``.  An append touches ONLY the buckets its batch users hash
into: those partitions are read (partition-pruned scan), merged with the
batch's runs through :func:`operators.scd2.merge_scd2_runs`, and
rewritten via dynamic partition overwrite — untouched buckets' files are
never opened, let alone rewritten (inode-locked in
tests/test_scd2_store.py).  Per-batch cost therefore tracks
|batch users| / N_BUCKETS of the dimension, not its total history — the
same maintenance contract as the ANN/text index appends.

At-least-once safety (the streaming requirement): each run row carries
its final event's (ts, event_id); an arriving event at-or-before its
user's open-run position is DROPPED before the merge, so a re-delivered
micro-batch re-derives zero kept events and the append is a pure no-op
(no write job at all).  This is also the standard SCD2 late-data policy:
events older than the current state's last position can no longer
change history.  Atomicity per batch: the dynamic-overwrite parquet job
commits all its bucket rewrites at job commit — a crash before that
leaves the old files live, and the re-delivered batch redoes the merge.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hnarchive_spark.operators.scd2 import close_intervals, merge_scd2_runs, scd2_runs
from hnarchive_spark.sources.index_version import (
    current_index_version,
    index_root,
    publish_index_version,
    write_json_atomic,
)

N_BUCKETS = 32

_EVENT_COLS = ("user_id", "ts", "event_id", "event_type")


def _runs_path(path: str) -> str:
    """Resolve the CURRENT runs tree (re-bucketing compaction publishes
    new versions behind the same atomic pointer the index family uses)."""
    return os.path.join(index_root(path), "runs")


def _write_meta(root: str, n_buckets: int) -> None:
    write_json_atomic(os.path.join(root, "_META.json"), {"n_buckets": int(n_buckets)})


def _n_buckets(path: str) -> int:
    """The store's CURRENT bucket count (versioned with the runs — a
    re-bucketing compaction changes it atomically at the pointer swap)."""
    import json

    try:
        with open(os.path.join(index_root(path), "_META.json")) as fh:
            return int(json.load(fh)["n_buckets"])
    except FileNotFoundError:
        return N_BUCKETS


def _with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("u_bucket", (F.col("user_id") % n_buckets).cast("int"))


def build_scd2_store(
    spark: SparkSession, events: DataFrame, path: str, n_buckets: int = N_BUCKETS
) -> int:
    """Full build: run-length collapse the seed events and lay the runs
    out bucket-partitioned. Returns the number of runs written."""
    os.makedirs(path, exist_ok=True)
    runs = _with_bucket(scd2_runs(events.select(*_EVENT_COLS)), n_buckets)
    runs.write.mode("overwrite").partitionBy("u_bucket").parquet(_runs_path(path))
    _write_meta(path, n_buckets)
    return spark.read.parquet(_runs_path(path)).count()


def append_scd2(spark: SparkSession, batch: DataFrame, path: str) -> int:
    """Absorb a batch of events; returns the number of events APPLIED
    (0 for a fully re-delivered/late batch — which also skips the write
    entirely)."""
    runs_path = _runs_path(path)
    nb = _n_buckets(path)
    b = batch.select(*_EVENT_COLS)
    buckets = [
        r[0] for r in b.select((F.col("user_id") % nb).cast("int")).distinct().collect()
    ]
    if not buckets:
        return 0
    # localCheckpoint is LOAD-BEARING, not a perf nicety: the write below
    # dynamic-overwrites the very path `dim` reads, so its lineage must be
    # SEVERED before the write job runs — a mere persist() could evict
    # mid-write and recompute from half-replaced files (and Spark may
    # refuse the self-overwrite outright). Checkpointed blocks either
    # serve the write or fail the job loudly (dynamic overwrite commits
    # atomically at job commit, so a failed write leaves the old files
    # live and the re-delivered batch simply redoes the merge). It also
    # covers the fan-out: `dim` feeds the frontier AND three merge
    # branches; unchecked, each branch re-runs the pruned scan + windows.
    dim = (
        spark.read.parquet(runs_path)
        .filter(F.col("u_bucket").isin(buckets))
        .localCheckpoint(eager=True)
    )
    # at-least-once / late-data guard: drop events at-or-before the
    # open run's last (ts, event_id) position
    wmax = F.max(F.struct("last_ts_us", "last_event_id"))
    frontier = dim.groupBy("user_id").agg(wmax.alias("_f"))
    kept = (
        b.join(frontier, "user_id", "left")
        .filter(
            F.col("_f").isNull()
            | (F.struct(F.unix_micros("ts").alias("last_ts_us"),
                        F.col("event_id").alias("last_event_id")) > F.col("_f"))
        )
        .drop("_f")
        .persist()
    )
    try:
        n_kept = kept.count()
        if n_kept == 0:
            return 0
        new_rows = _with_bucket(
            merge_scd2_runs(dim.drop("u_bucket"), scd2_runs(kept)), nb
        )
        (
            new_rows.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("u_bucket")
            .parquet(runs_path)
        )
        return n_kept
    finally:
        kept.unpersist()


def read_scd2(spark: SparkSession, path: str) -> DataFrame:
    """The dimension view: runs + derived valid_to_us/is_current."""
    return close_intervals(spark.read.parquet(_runs_path(path)).drop("u_bucket"))


def compact_scd2(spark: SparkSession, path: str, n_buckets: int | None = None) -> str:
    """Re-cluster the runs into ``<path>/v<N>/runs`` behind the atomic
    version pointer — the lifecycle verb this store actually needs.
    Unlike the append-only indexes, dynamic partition overwrite REWRITES
    a touched bucket wholesale, so appends don't pile small files; what
    DOES stop fitting is the bucket count chosen at build time (a
    dimension that grew 10x wants 10x the buckets, or an over-bucketed
    small store wants fewer, bigger files).  ``n_buckets`` re-buckets the
    layout (default: keep the current count, a pure re-cluster + zstd
    rewrite); the new count is published in the version's ``_META.json``
    at the SAME pointer swap, so appends route by the new hash the
    instant readers see the new tree.  Rows are unchanged (locked in
    tests/test_scd2_store.py). Returns the new version directory."""
    nb = int(n_buckets) if n_buckets else _n_buckets(path)
    old = _runs_path(path)
    new_v = (current_index_version(path) or 0) + 1
    vdir = os.path.join(path, f"v{new_v}")
    (
        _with_bucket(spark.read.parquet(old).drop("u_bucket"), nb)
        .repartition("u_bucket")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("u_bucket")
        .parquet(os.path.join(vdir, "runs"))
    )
    _write_meta(vdir, nb)
    publish_index_version(path, new_v)
    return vdir


def delete_users_scd2(spark: SparkSession, path: str, user_ids: list[int]) -> int:
    """Right-to-be-forgotten for the dimension (the store-delete verb
    items_store.delete_ids provides for facts): remove EVERY run of the
    given users, rewriting only the buckets they hash into. A bucket
    left empty has its directory removed outright (dynamic overwrite
    cannot express an empty partition). If a deleted user reappears in
    a later batch they restart at version 1 — their frontier is gone
    with their history, which is the point. Returns rows deleted."""
    import shutil

    import math

    runs_path = _runs_path(path)
    if not user_ids:
        return 0
    nb = _n_buckets(path)
    # victim buckets via TRUNCATED modulo — the same semantics as the
    # Spark `%` that assigned u_bucket at write time (sign-preserving:
    # -7 % 32 = -7), NOT Python's floored `%` (always non-negative).
    # Using Python `%` here would prune the wrong bucket for a negative
    # user_id and silently delete nothing — a right-to-be-forgotten
    # failure (locked in tests/test_scd2_store.py).
    buckets = sorted({int(math.fmod(int(u), nb)) for u in user_ids})
    # localCheckpoint for the same self-overwrite reason as append_scd2:
    # `keep` below rewrites the path `dim` reads, so the lineage must not
    # be recomputable from the files being replaced.
    dim = (
        spark.read.parquet(runs_path)
        .filter(F.col("u_bucket").isin(buckets))
        .localCheckpoint(eager=True)
    )
    n_before = dim.count()
    keep = dim.filter(~F.col("user_id").isin([int(u) for u in user_ids]))
    n_keep = keep.count()
    if n_keep == n_before:
        return 0
    kept_buckets = {r[0] for r in keep.select("u_bucket").distinct().collect()}
    if n_keep > 0:
        (
            keep.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("u_bucket")
            .parquet(runs_path)
        )
    for b in buckets:
        if b not in kept_buckets:
            shutil.rmtree(os.path.join(runs_path, f"u_bucket={b}"), ignore_errors=True)
    return n_before - n_keep
