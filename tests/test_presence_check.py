"""Seeded property tests for the two shared append primitives in
``sources/index_version.py``: ``novel_rows`` (the partition-pruned
presence check) must equal an unpruned full anti-join against the store,
and ``checkpoint_count`` must equal ``count()`` while launching no more
jobs than a bare eager ``localCheckpoint`` of the same frame."""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from hnarchive_spark.sources.index_version import checkpoint_count, novel_rows

N_PARTS = 8
_groups = itertools.count()


def _frame(spark, keys):
    return spark.createDataFrame(
        [(int(k), f"row{i}") for i, k in enumerate(keys)], "k long, payload string"
    ).withColumn("p", F.pmod(F.col("k"), F.lit(N_PARTS)))


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """(path, stored keys): keys in partitions 0..3 only, so a frame of
    keys with ``k % 8 >= 4`` touches no stored partition."""
    rng = random.Random(7)
    keys = sorted({k for k in rng.sample(range(400), 120) if k % N_PARTS < 4})
    path = str(tmp_path_factory.mktemp("presence") / "store")
    _frame(spark, keys).write.partitionBy("p").parquet(path)
    return path, set(keys)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("seed", [1, 2])
def test_novel_rows_equals_full_anti_join(spark, store, seed):
    path, stored = store
    rng = random.Random(seed)
    keys = [rng.randrange(400) for _ in range(60)]
    keys += keys[:15]  # in-frame duplicates, stored and novel alike
    frame = _frame(spark, keys)
    got = _rows(novel_rows(spark, frame, path, "k", "p"))
    full = frame.join(spark.read.parquet(path).select("k"), "k", "left_anti")
    assert got == _rows(full)
    assert sorted(r[0] for r in got) == sorted(k for k in keys if k not in stored)


def test_novel_rows_edge_frames(spark, store, tmp_path):
    path, _ = store
    frame = _frame(spark, [5, 5, 13, 100])
    # no store yet: the frame itself
    assert novel_rows(spark, frame, str(tmp_path / "absent"), "k", "p") is frame
    # touches no stored partition (every k % 8 >= 4): nothing anti-joins away
    untouched = _frame(spark, [4, 5, 6, 7, 12, 13, 12])
    assert _rows(novel_rows(spark, untouched, path, "k", "p")) == _rows(untouched)
    # a provably empty frame
    empty = frame.filter(F.lit(False))
    assert novel_rows(spark, empty, path, "k", "p").collect() == []


def test_novel_rows_error_mode(spark, store):
    path, stored = store
    hit = min(stored)
    with pytest.raises(ValueError, match="already-indexed"):
        novel_rows(spark, _frame(spark, [hit, 5]), path, "k", "p", on_conflict="error")
    clean = _frame(spark, [k for k in range(40) if k not in stored])
    assert novel_rows(spark, clean, path, "k", "p", on_conflict="error") is clean
    with pytest.raises(ValueError, match="on_conflict"):
        novel_rows(spark, clean, path, "k", "p", on_conflict="overwrite")


def _jobs(spark, action) -> int:
    """Jobs ``action`` launches, by a StatusTracker job group."""
    sc = spark.sparkContext
    group = f"presence-check-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_checkpoint_count_is_exact_and_adds_no_job(spark, store):
    path, _ = store
    stored = spark.read.parquet(path)
    rng = random.Random(11)
    batch = _frame(spark, [rng.randrange(400) for _ in range(50)])
    frames = [
        batch.join(stored.select("k"), "k", "left_anti"),
        batch.groupBy("p").count(),  # an exchange: AQE runs a stage job
        batch.filter(F.lit(False)),
    ]
    for df in frames:
        counted = {}
        n_jobs = _jobs(spark, lambda: counted.update(n=checkpoint_count(df)[1]))
        assert counted["n"] == df.count()
        bare = _jobs(spark, lambda: df.localCheckpoint(eager=True))
        # a provably empty frame checkpoints without a job, with or
        # without the count
        assert n_jobs <= bare and (bare > 0 or counted["n"] == 0), (n_jobs, bare)
