"""Lifecycle tests for the persisted MinHash/LSH near-dup index
(sources/minhash_index.py): index-served pairs == inline q_dedup_minhash,
O(batch) idempotent appends (re-delivery writes nothing — inode-locked),
partition-pruned batch probes, versioned compaction, and streaming
maintenance — the same contract surface as the ANN/BM25/gram-set tests."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from hnarchive_spark.plans.dedup import JACCARD_T
from hnarchive_spark.sources.index_version import current_index_version, index_root
from hnarchive_spark.sources.minhash_index import (
    append_minhash_index,
    build_minhash_index,
    compact_minhash_index,
    index_pairs,
    minhash_index_stats,
    probe_minhash_pairs,
)
from hnarchive_spark.tables import load

SF = "/root/testdata/sf0.001"


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_ino, st.st_size)
    return out


def _inline_pairs(spark):
    from hnarchive_spark.operators import dedup as D

    d = load(spark, SF, "documents")
    return sorted(
        tuple(r) for r in D.minhash_dedup_pairs(D.word_shingles(d), JACCARD_T).collect()
    )


def test_index_pairs_match_inline_after_build_plus_append(spark, tmp_path):
    """Build on evens + append odds, then serve the whole-corpus pair set
    from the index: rows must equal the inline q_dedup_minhash exactly
    (the identity the shared oracle rests on)."""
    d = load(spark, SF, "documents")
    path = str(tmp_path / "mh")
    build_minhash_index(spark, d.filter(F.col("doc_id") % 2 == 0), path)
    n = append_minhash_index(spark, d.filter(F.col("doc_id") % 2 == 1), path)
    assert n > 0
    got = sorted(tuple(r) for r in index_pairs(spark, path, d, JACCARD_T).collect())
    want = _inline_pairs(spark)
    assert got == want and len(got) > 0


def test_append_is_idempotent_and_writes_nothing(spark, tmp_path):
    """Re-delivering an already-indexed batch (even doubled within one
    delivery — intra-batch dedup) appends zero docs and leaves every
    parquet file inode-identical."""
    d = load(spark, SF, "documents")
    path = str(tmp_path / "idem")
    build_minhash_index(spark, d.filter(F.col("doc_id") % 2 == 0), path)
    inc = d.filter(F.col("doc_id") % 2 == 1)
    assert append_minhash_index(spark, inc, path) == inc.count()
    before = _files(index_root(path))
    assert append_minhash_index(spark, inc, path) == 0
    assert append_minhash_index(spark, inc.unionAll(inc), path) == 0
    assert _files(index_root(path)) == before


def test_probe_batch_vs_archive_matches_inline_cross_pairs(spark, tmp_path):
    """The production probe (batch docs vs indexed archive) must return
    exactly the inline minhash pairs that CROSS the batch/archive
    boundary, oriented (batch, archive)."""
    d = load(spark, SF, "documents")
    arch = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "probe")
    build_minhash_index(spark, arch, path)
    got = sorted(
        tuple(r)
        for r in probe_minhash_pairs(spark, batch, path, arch, JACCARD_T).collect()
    )
    want = sorted(
        (r[0], r[1], r[2]) if r[0] % 2 == 1 else (r[1], r[0], r[2])
        for r in _inline_pairs(spark)
        if (r[0] % 2) != (r[1] % 2)
    )
    assert got == want and len(got) > 0


def test_probe_scan_is_partition_pruned(spark, tmp_path):
    """The probe's archive-bands scan must carry PartitionFilters on the
    band bucket — only the batch's own buckets are read.  Since the r18
    optimization the candidate join (and with it the archive scan) runs
    inside probe_minhash_pairs' eager candidate checkpoint, so the lock
    asserts on the LAZY candidate frame the probe checkpoints
    (_probe_candidates — the exact plan the checkpoint executes), plus
    that the probe's final plan reads candidates from the checkpoint
    (no parquet re-scan per verify reference)."""
    from hnarchive_spark.sources.minhash_index import _probe_candidates

    d = load(spark, SF, "documents")
    arch = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 100 == 1)  # small batch -> real pruning
    path = str(tmp_path / "prune")
    build_minhash_index(spark, arch, path)

    # the probe's OWN bucket derivation (shared helper — ADVICE r18: a
    # test-local copy of the pipeline could silently drift from the probe)
    from hnarchive_spark.sources.minhash_index import _batch_bands

    _b_sh, b_bands = _batch_bands(batch)
    buckets = [r[0] for r in b_bands.select("bucket").distinct().collect()]
    cands = _probe_candidates(spark, b_bands, path, buckets, None)
    plan = cands._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.split("\n") if "PartitionFilters" in ln]
    assert pf and any("bucket" in ln for ln in pf), pf

    # and the composed probe must NOT re-scan the bands parquet in its
    # final (post-checkpoint) plan — candidates come from the checkpoint
    df = probe_minhash_pairs(spark, batch, path, arch, JACCARD_T)
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "/bands" not in final, final[:2000]


# multi-minute compaction/rebuild sweep -> round-closing run only
@pytest.mark.exhaustive
def test_compaction_preserves_pairs_and_collapses_files(spark, tmp_path):
    d = load(spark, SF, "documents")
    path = str(tmp_path / "compact")
    build_minhash_index(spark, d.filter(F.col("doc_id") % 8 == 0), path)
    for k in (1, 2, 3, 4, 5, 6, 7):
        append_minhash_index(spark, d.filter(F.col("doc_id") % 8 == k), path)
    want = sorted(tuple(r) for r in index_pairs(spark, path, d, JACCARD_T).collect())
    before = minhash_index_stats(spark, path)

    vdir = compact_minhash_index(spark, path)
    assert current_index_version(path) == 1
    assert index_root(path) == vdir and os.path.isdir(vdir)
    after = minhash_index_stats(spark, path)
    assert after["docs"] == before["docs"]
    assert after["files"] < before["files"], (before["files"], after["files"])
    assert sorted(tuple(r) for r in index_pairs(spark, path, d, JACCARD_T).collect()) == want

    # appends keep composing after the pointer swap
    assert append_minhash_index(spark, d.filter(F.col("doc_id") % 8 == 1), path) == 0


def test_stream_maintenance_restart_idempotent(spark, tmp_path):
    """availableNow streaming maintenance: a second run from a FRESH
    checkpoint (full re-delivery) must leave the index unchanged and the
    ledger must record the skipped volume."""
    from hnarchive_spark.streaming.index_maint import (
        maintain_minhash_index,
        maintenance_stats,
        stream_maintenance,
    )

    d = load(spark, SF, "documents").select("doc_id", "text")
    path = str(tmp_path / "mh")
    src = str(tmp_path / "src")
    build_minhash_index(spark, d.filter(F.col("doc_id") % 2 == 0), path)
    d.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(d.schema).parquet(src)
    q = stream_maintenance(stream, maintain_minhash_index(path), str(tmp_path / "ck1"))
    q.awaitTermination()
    want = minhash_index_stats(spark, path)

    q = stream_maintenance(  # re-deliver all
        stream, maintain_minhash_index(path), str(tmp_path / "ck2")
    )
    q.awaitTermination()
    assert minhash_index_stats(spark, path) == want
    stats = maintenance_stats(path)
    assert stats["batches"] >= 2 and stats["skipped"] > 0 and stats["appended"] > 0
