"""Persisted, id-bucketed RAW-VECTOR store — the point-fetch side of the
RAG serving stack (the stage-2 exact refine's vector source).

The persisted ANN indexes store CODES (PQ bytes, LSH signatures), not
raw vectors; the exact-refine rerank (plans/search.py q_hybrid_rerank)
and any refine-after-ANN consumer need full-precision vectors for a
BOUNDED id list.  Reading them from a flat corpus parquet works — the
pushed ``In(vec_id, ...)`` filter prunes row groups — but every file's
footer is still opened: at 100 TB that is O(files) metadata work per
query.  This store lays the vectors out bucketed by id
(``bucket = vec_id % n_buckets`` as a PARTITION directory), so a point
fetch reads only the id list's own buckets — O(touched buckets), the
items_store bucket-pruning discipline applied to vectors.

Layout (versioned behind the ``_CURRENT`` pointer, index_version.py):

* ``<root>/vectors/bucket=<b>/`` — (vec_id long, embedding) rows;
* ``<root>/_META.json`` — ``n_buckets``.

Lifecycle (the house discipline every persisted family follows):
build = validated full write into ``v<N+1>`` + atomic pointer swap;
append = presence anti-join pruned to the batch's OWN buckets
(idempotent under streaming re-delivery, O(batch)); compact =
small-file rewrite into a fresh version (appends accrete one file per
batch per touched bucket); fetch = the partition-pruned point read.
``detect_index_kind`` classifies the family structurally ('vecstore')
and the maintenance scheduler runs compaction from the standard
append-count budget.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hnarchive_spark.sources.index_version import (
    checkpoint_count,
    current_index_version,
    index_root,
    novel_rows,
    publish_index_version,
    write_json_atomic,
)

DEFAULT_VEC_BUCKETS = 64


def _vectors_path(path: str) -> str:
    return os.path.join(index_root(path), "vectors")


def vec_store_meta(path: str) -> dict:
    with open(os.path.join(index_root(path), "_META.json")) as fh:
        return json.load(fh)


def _bucket(col: F.Column, n_buckets: int) -> F.Column:
    return F.pmod(col, F.lit(n_buckets)).cast("long")


def build_vec_store(
    spark: SparkSession,
    vectors: DataFrame,
    path: str,
    n_buckets: int = DEFAULT_VEC_BUCKETS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Write ``vectors`` into ``<path>/v<N+1>/vectors`` bucketed by id
    and publish at the atomic pointer swap.  Returns the new version
    directory.  Raises ValueError (live version untouched) on duplicate
    ids — a point-fetch store with two rows per id would silently
    duplicate rerank candidates."""
    v = vectors.select(
        F.col(id_col).cast("long").alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    stats = v.agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct("vec_id").alias("nd")
    ).collect()[0]
    if int(stats["n"]) != int(stats["nd"]):
        raise ValueError(
            f"duplicate vec_id rows ({stats['n']} rows, {stats['nd']} ids) — "
            "a point-fetch store must be unique per id"
        )
    new_v = (current_index_version(path) or 0) + 1
    vdir = os.path.join(path, f"v{new_v}")
    (
        v.withColumn("bucket", _bucket(F.col("vec_id"), n_buckets))
        .repartition("bucket")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("bucket")
        .parquet(os.path.join(vdir, "vectors"))
    )
    write_json_atomic(
        os.path.join(vdir, "_META.json"),
        {"n_buckets": int(n_buckets)},
    )
    publish_index_version(path, new_v)
    return vdir


def append_vec_store(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    on_conflict: str = "skip",
) -> int:
    """O(batch) idempotent append into the CURRENT version: the presence
    check anti-joins only the batch's OWN bucket partitions (an id always
    routes to the same bucket, so scanning the touched buckets finds any
    re-delivered row — ``index_version.novel_rows``), then the
    survivors append one file per touched bucket.  Intra-batch duplicate
    ids are collapsed first (dropDuplicates, the append_lsh_index rule):
    the store-presence anti-join alone can't see two copies of an id
    arriving in the SAME micro-batch, and a double row would break the
    point-fetch uniqueness invariant build_vec_store enforces.  Returns
    rows appended; a fully re-delivered micro-batch appends 0."""
    n_buckets = int(vec_store_meta(path)["n_buckets"])
    b = (
        batch.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(vec_col).alias("embedding"),
        )
        .dropDuplicates(["vec_id"])
        .withColumn("bucket", _bucket(F.col("vec_id"), n_buckets))
        .persist()
    )
    try:
        kept, n_new = checkpoint_count(
            novel_rows(spark, b, _vectors_path(path), "vec_id", "bucket", on_conflict)
        )
        if n_new == 0:
            return 0
        (
            kept.repartition("bucket")
            .write.mode("append")
            .option("compression", "zstd")
            .partitionBy("bucket")
            .parquet(_vectors_path(path))
        )
        return n_new
    finally:
        b.unpersist()


def fetch_vectors(spark: SparkSession, path: str, ids: list[int]) -> DataFrame:
    """The point fetch: (vec_id, embedding) for a BOUNDED id list (the
    caller's contract — a collected shortlist, a probe's candidates).
    The bucket list is computed driver-side from the ids, so the scan
    carries BOTH a partition filter (bucket isin — directory pruning)
    and a pushed In(vec_id, ...) row-group filter: O(touched buckets)
    I/O, never a store pass."""
    n_buckets = int(vec_store_meta(path)["n_buckets"])
    ids = sorted({int(i) for i in ids})
    if not ids:
        # loud contract over a silent empty scan: every caller has a
        # concrete shortlist/candidate list — an empty one is a bug
        # upstream, not a fetch of nothing
        raise ValueError("fetch_vectors requires a non-empty id list")
    buckets = sorted({i % n_buckets for i in ids})
    return (
        spark.read.parquet(_vectors_path(path))
        .filter(F.col("bucket").isin(buckets) & F.col("vec_id").isin(ids))
        .select("vec_id", "embedding")
    )


def compact_vec_store(spark: SparkSession, path: str) -> str:
    """Rewrite the bucket partitions at full file sizes into a new
    ``<path>/v<N+1>`` tree with an atomic pointer swap — the lifecycle
    counterpart of :func:`append_vec_store` (each append leaves one
    small file per touched bucket).  Reads the store's own rows; fetch
    results are unchanged by construction.  Returns the new version
    directory."""
    meta = vec_store_meta(path)
    old = _vectors_path(path)
    new_v = (current_index_version(path) or 0) + 1
    vdir = os.path.join(path, f"v{new_v}")
    df = spark.read.parquet(old)
    (
        df.repartition("bucket")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("bucket")
        .parquet(os.path.join(vdir, "vectors"))
    )
    write_json_atomic(
        os.path.join(vdir, "_META.json"),
        {"n_buckets": int(meta["n_buckets"])},
    )
    publish_index_version(path, new_v)
    return vdir


def read_vec_store(spark: SparkSession, path: str) -> DataFrame:
    """(vec_id, embedding) for the whole store — the archive accessor
    gates verify against (the read_ingested_docs twin).  Full-store
    consumers only; point fetches go through :func:`fetch_vectors`."""
    return spark.read.parquet(_vectors_path(path)).select("vec_id", "embedding")
