"""Id-bucketed raw-vector store (sources/vec_store.py): the point-fetch
side of the RAG serving stack.  Fetch must return exactly the requested
ids' vectors with a bucket-pruned scan, builds must reject duplicate
ids, appends must be idempotent under re-delivery and leave untouched
buckets inode-stable, and compaction must preserve rows behind the
atomic pointer swap — the house lifecycle discipline."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hnarchive_spark.sources.index_version import (
    current_index_version,
    prune_index_versions,
)
from hnarchive_spark.sources.maintenance import _ACTIONS, detect_index_kind
from hnarchive_spark.sources.vec_store import (
    append_vec_store,
    build_vec_store,
    compact_vec_store,
    fetch_vectors,
    vec_store_meta,
)
from hnarchive_spark.tables import load

SF = "/root/testdata/sf0.001"


def _vecs(spark):
    return load(spark, SF, "embeddings").select("vec_id", "embedding")


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_ino, st.st_size)
    return out


def test_build_fetch_roundtrip_and_detection(spark, tmp_path):
    e = _vecs(spark)
    root = str(tmp_path / "vs")
    build_vec_store(spark, e, root, n_buckets=8)
    assert detect_index_kind(root) == "vecstore"
    assert _ACTIONS["vecstore"] == (True, "compact_vec_store")
    assert vec_store_meta(root)["n_buckets"] == 8

    ids = [3, 17, 42, 999_999]  # one id absent from the corpus
    got = {r["vec_id"]: r["embedding"] for r in fetch_vectors(spark, root, ids).collect()}
    want = {
        r["vec_id"]: r["embedding"]
        for r in e.filter(F.col("vec_id").isin(ids)).collect()
    }
    assert got == want and 999_999 not in got

    # the fetch plan carries BOTH pruning levers
    plan = fetch_vectors(spark, root, ids)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert any(
        "PartitionFilters" in ln and "bucket" in ln for ln in plan.split("\n")
    ), plan[:1200]
    assert "In(vec_id" in plan, plan[:1200]


def test_build_rejects_duplicate_ids(spark, tmp_path):
    e = _vecs(spark).limit(10)
    root = str(tmp_path / "vs")
    try:
        build_vec_store(spark, e.unionByName(e), root)
        raise AssertionError("duplicate ids must be rejected")
    except ValueError:
        pass
    assert current_index_version(root) is None  # live version untouched


def test_append_idempotent_and_bucket_pruned(spark, tmp_path):
    e = _vecs(spark)
    base = e.filter(F.col("vec_id") % 2 == 0)
    batch = e.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 50))
    root = str(tmp_path / "vs")
    build_vec_store(spark, base, root, n_buckets=8)
    before = _files(root)

    n1 = append_vec_store(spark, batch, root)
    assert n1 == batch.count() > 0
    # untouched-bucket files are inode-stable (append never rewrites)
    after = _files(root)
    assert all(after[p] == before[p] for p in before)

    # full re-delivery is a no-op
    assert append_vec_store(spark, batch, root) == 0
    got = fetch_vectors(spark, root, [r["vec_id"] for r in batch.collect()])
    assert got.count() == n1


def test_append_collapses_intra_batch_duplicate_ids(spark, tmp_path):
    """A micro-batch carrying the same vec_id twice must land ONE row:
    the store-presence anti-join can't see duplicates that arrive
    together, so append_vec_store collapses them first (ADVICE r15 —
    the append_lsh_index rule).  Point fetch stays unique per id."""
    e = _vecs(spark)
    root = str(tmp_path / "vs")
    build_vec_store(spark, e.filter(F.col("vec_id") % 2 == 0), root, n_buckets=8)

    batch = e.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 20))
    doubled = batch.unionByName(batch)
    n = append_vec_store(spark, doubled, root)
    assert n == batch.count() > 0  # one row per distinct id, not two

    ids = [r["vec_id"] for r in batch.collect()]
    fetched = fetch_vectors(spark, root, ids)
    assert fetched.count() == len(ids)
    assert fetched.select("vec_id").distinct().count() == len(ids)


def test_compact_preserves_rows_behind_pointer_swap(spark, tmp_path):
    e = _vecs(spark)
    root = str(tmp_path / "vs")
    build_vec_store(spark, e.filter(F.col("vec_id") % 2 == 0), root, n_buckets=8)
    append_vec_store(spark, e.filter(F.col("vec_id") % 2 == 1), root)
    v_before = current_index_version(root)
    n_before = fetch_vectors(
        spark, root, [r["vec_id"] for r in e.select("vec_id").collect()]
    ).count()

    compact_vec_store(spark, root)
    assert current_index_version(root) == v_before + 1
    n_after = fetch_vectors(
        spark, root, [r["vec_id"] for r in e.select("vec_id").collect()]
    ).count()
    assert n_after == n_before == e.count()

    removed = prune_index_versions(root)
    assert any(f"v{v_before}" in p for p in removed)
    assert fetch_vectors(spark, root, [2, 3]).count() == 2


def test_stream_maintenance_skip_idempotent(spark, tmp_path):
    """The vec store rides the same micro-batch cadence as the ANN
    families: a files stream appends with availableNow; a second run
    from a FRESH checkpoint (every batch re-delivered) plus new files
    ends row-identical to a full build over the union, and the ledger
    records the skips."""
    from hnarchive_spark.streaming.index_maint import (
        maintain_vec_store,
        maintenance_stats,
        stream_maintenance,
    )

    e = _vecs(spark)
    src = str(tmp_path / "src")
    root = str(tmp_path / "vs")
    build_vec_store(spark, e.filter(F.col("vec_id") % 4 == 0), root, n_buckets=8)
    e.filter(F.col("vec_id") % 4 == 1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(e.schema).parquet(src)
    stream_maintenance(
        stream, maintain_vec_store(root), str(tmp_path / "ckpt1")
    ).awaitTermination()

    # new files + a fresh checkpoint: ALL files re-delivered
    e.filter(F.col("vec_id") % 4 == 2).write.mode("append").parquet(src)
    e.filter(F.col("vec_id") % 4 == 3).write.mode("append").parquet(src)
    stream_maintenance(
        stream, maintain_vec_store(root), str(tmp_path / "ckpt2")
    ).awaitTermination()

    all_ids = [r["vec_id"] for r in e.select("vec_id").collect()]
    got = fetch_vectors(spark, root, all_ids)
    assert got.count() == e.count()
    assert got.select("vec_id").distinct().count() == e.count()
    stats = maintenance_stats(root)
    assert stats["appended"] == e.count() - e.filter(F.col("vec_id") % 4 == 0).count()
    assert stats["skipped"] > 0  # the re-delivered first file


def test_fetch_rejects_empty_id_list(spark, tmp_path):
    import pytest

    root = str(tmp_path / "vs")
    build_vec_store(spark, _vecs(spark).limit(10), root, n_buckets=4)
    with pytest.raises(ValueError, match="non-empty"):
        fetch_vectors(spark, root, [])
