"""Persisted, versioned quality-classifier model store — the trained-
artifact lifecycle for the (bucket, w_e4) weight table behind
operators/quality.py (VERDICT r14 #3).

The fixture model (`operators.quality.fixture_model`) is what
`q_quality_score` builds in-query — conceptually "v1" of this store; a
USER-SUPPLIED trained model (fastText-style offline training output)
needs the same persisted / versioned / atomic-pointer-swap discipline
every other trained artifact already has (semdedup centroids, IVF-PQ
codebooks): readers must never see a torn weight table, and a republish
must swap scores atomically between micro-batches, never inside one.

Layout (versioned behind the ``_CURRENT`` pointer, index_version.py):

* ``<root>/weights`` — the (bucket long, w_e4 long) parquet, at most
  ``n_buckets`` rows (broadcast-scalar: the whole model ships to every
  executor as one tiny broadcast, exactly how quality_scores joins it);
* ``<root>/_META.json`` — ``n_buckets`` plus the publisher's declared
  coverage, so the maintenance scheduler can classify the family
  structurally and a reader can sanity-check bucket range.

Publish validates the floor-division portability contract the scorer
depends on (weights NON-NEGATIVE — Spark ``div`` truncates toward zero,
DuckDB ``//`` floors; they agree only on nonnegative operands) and the
bucket range.  Rejected publishes leave the live version untouched.

At 100 TB: the model is k-row metadata — publish cost is a coalesced
single-file write; serving cost is the same broadcast join the inline
fixture pays.  The only "maintenance" is retraining (needs labels), so
the scheduler reports the family as not-self-executable, like semdedup.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hnarchive_spark.operators.quality import QUALITY_W_BUCKETS
from hnarchive_spark.sources.index_version import (
    current_index_version,
    index_root,
    publish_index_version,
    write_json_atomic,
)


def _weights_path(path: str) -> str:
    return os.path.join(index_root(path), "weights")


def model_meta(path: str) -> dict:
    with open(os.path.join(index_root(path), "_META.json")) as fh:
        return json.load(fh)


def publish_quality_model(
    spark: SparkSession,
    model: DataFrame,
    path: str,
    n_buckets: int = QUALITY_W_BUCKETS,
) -> str:
    """Validate + write ``model`` (bucket, w_e4) into ``<path>/v<N+1>``
    and publish it at the atomic pointer swap.  Returns the new version
    directory.  Raises ValueError (live version untouched) if any weight
    is negative or any bucket is outside [0, n_buckets)."""
    stats = model.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.min("w_e4"), F.lit(0)).alias("min_w"),
        F.coalesce(F.min("bucket"), F.lit(0)).alias("min_b"),
        F.coalesce(F.max("bucket"), F.lit(0)).alias("max_b"),
        F.count_distinct("bucket").alias("n_distinct"),
    ).collect()[0]
    if int(stats["min_w"]) < 0:
        raise ValueError(
            "quality model weights must be non-negative (floor-division "
            f"portability contract); got min w_e4 = {stats['min_w']}"
        )
    if stats["n"] and not (
        0 <= int(stats["min_b"]) and int(stats["max_b"]) < n_buckets
    ):
        raise ValueError(
            f"bucket ids must lie in [0, {n_buckets}); got "
            f"[{stats['min_b']}, {stats['max_b']}]"
        )
    if int(stats["n_distinct"]) != int(stats["n"]):
        raise ValueError("duplicate bucket rows in quality model")
    new_v = (current_index_version(path) or 0) + 1
    vdir = os.path.join(path, f"v{new_v}")
    model.select(
        F.col("bucket").cast("long"), F.col("w_e4").cast("long")
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(vdir, "weights"))
    write_json_atomic(
        os.path.join(vdir, "_META.json"),
        {"n_buckets": int(n_buckets), "n_weights": int(stats["n"])},
    )
    publish_index_version(path, new_v)
    return vdir


def read_quality_model(spark: SparkSession, path: str) -> DataFrame:
    """The CURRENT published weight table.  Resolved through the pointer
    at call time: a gate that re-reads per micro-batch picks up a
    republish atomically at its next batch boundary (quality_scores
    left-joins it, so a sparse published model scores misses as 0)."""
    return spark.read.parquet(_weights_path(path))
