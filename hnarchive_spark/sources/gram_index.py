"""Persisted substring-gram index: the archive's DISTINCT L-gram hash
set, bucket-partitioned — the production artifact behind incremental
exact-substring dedup (`q_substring_dedup_incremental` computes the same
check inline; the indexed twin probes this instead, so a day's increment
costs O(batch grams) and the archive is never re-scanned).

Design (the same lifecycle rails as the ANN/BM25 indexes):

* :func:`build_gram_index` — one gram pass over the corpus (the shared
  explode+md5 recipe, with the explicit-count repartition the r12
  explode-fanout rule requires), collapsed to DISTINCT hashes, written
  partitioned by ``bucket = md5-prefix % N_GRAM_BUCKETS``.  The only
  metadata is the immutable gram length ``l`` (``_META.json``, written
  once at build) — there is deliberately NO mutable stats sidecar, so an
  append is ONE publish (parquet append) and can never leave the torn
  two-publish state the text index needs a journal for.  Counts come
  from :func:`gram_index_stats` live.
* :func:`append_gram_index` — the new batch's distinct grams, anti-joined
  against the index (pruned to the batch's own bucket partitions — a
  gram hashes to the same bucket forever, so only those partitions can
  contain it), appended.  A gram set makes duplicate delivery a
  SEMANTIC no-op, so there is no ``on_conflict`` dial here: re-appending
  an already-indexed batch appends zero rows by construction (the
  idempotence the other families need guards for).
* :func:`probe_substring_spans` — batch docs against the index: gram
  semi-join, then the family's island merge and per-doc span audit,
  emitting exactly `q_substring_dedup_incremental`'s schema.
* :func:`compact_gram_index` — appends pile small files into each bucket
  partition; the compaction rewrites the index's own rows clustered by
  bucket into ``<path>/v<N>`` behind the atomic ``_CURRENT`` pointer
  (sources/index_version.py).  Like LSH, a gram set has no trained
  state, so compaction IS the whole rebuild story.

At 100 TB: the index holds one 16-hex-char row per distinct gram —
far smaller than the corpus and growing sublinearly on deduplicated
corpora (new days mostly repeat old boilerplate); the probe's gram pass
is the batch-sized cost the inline form already pays, and the anti/semi
joins shuffle 64-bit keys only.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hnarchive_spark.sources.index_version import (
    checkpoint_count,
    current_index_version,
    index_root,
    novel_rows,
    publish_index_version,
    write_json_atomic,
)

N_GRAM_BUCKETS = 64
DEFAULT_L = 20  # mirrors plans.dedup.SUBSTR_L (kept literal: no plans import)


def _meta_path(path: str) -> str:
    return os.path.join(path, "_META.json")


def _read_l(path: str) -> int:
    with open(_meta_path(path)) as fh:
        return int(json.load(fh)["l"])


def _grams(spark, docs: DataFrame, l: int, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, p, h) for every overlapping l-gram — the family's shared
    recipe: md5-prefix hash, explicit-count repartition ahead of the
    CPU-heavy explode (r12 rule: size-based planning cannot see the 15x
    row fanout)."""
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
        .filter(F.length("text") >= l)
        .repartition(n_part, "doc_id")
    )
    return d.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(1), F.length("text") - l + 1)).alias("p"),
    ).select(
        "doc_id",
        "p",
        F.substring(F.md5(F.col("text").substr(F.col("p"), F.lit(l))), 1, 16).alias("h"),
    )


def _bucketed(h_col) -> F.Column:
    return F.conv(F.substring(h_col, 1, 8), 16, 10).cast("long") % N_GRAM_BUCKETS


def build_gram_index(
    spark,
    docs: DataFrame,
    path: str,
    l: int = DEFAULT_L,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Build the distinct-gram index; returns the number of grams."""
    grams = (
        _grams(spark, docs, l, id_col, text_col)
        .select("h")
        .distinct()
        .withColumn("bucket", _bucketed(F.col("h")))
    )
    (
        grams.repartition("bucket")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("bucket")
        .parquet(path)
    )
    write_json_atomic(_meta_path(path), {"l": int(l)})
    return spark.read.parquet(index_root(path)).count()


def append_gram_index(
    spark,
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Append the batch's NOVEL grams; returns how many were new.

    Set semantics make this idempotent without any duplicate-id dial:
    grams already present (from any earlier batch, or a re-delivery of
    this one) anti-join away.  The anti-join is pruned to the batch's
    own bucket partitions — an existing copy of a gram can only live in
    the bucket its hash maps to."""
    l = _read_l(path)
    root = index_root(path)
    fresh = (
        _grams(spark, batch, l, id_col, text_col)
        .select("h")
        .distinct()
        .withColumn("bucket", _bucketed(F.col("h")))
        .persist()
    )
    try:
        novel, n_new = checkpoint_count(novel_rows(spark, fresh, root, "h", "bucket"))
        if n_new == 0:
            return 0
        (
            novel.repartition("bucket")
            .write.mode("append")
            .option("compression", "zstd")
            .partitionBy("bucket")
            .parquet(root)
        )
        return n_new
    finally:
        fresh.unpersist()


def probe_substring_spans(
    spark,
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-batch-doc maximal spans already present verbatim in the
    indexed archive — `q_substring_dedup_incremental`'s exact schema
    (doc_id, n_spans, dup_chars, longest_span, dup_frac_e6)."""
    l = _read_l(path)
    idx = spark.read.parquet(index_root(path)).select("h")
    d = (
        batch.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
        .filter(F.length("text") >= l)
    )
    pos = _grams(spark, batch, l, id_col, text_col)
    dpos = pos.join(idx, "h", "leftsemi").select("doc_id", "p")
    w = Window.partitionBy("doc_id").orderBy("p")
    isl = dpos.select(
        "doc_id",
        "p",
        F.when(F.col("p") - F.lag("p").over(w) <= l, F.lit(0)).otherwise(F.lit(1)).alias("brk"),
    )
    sp = isl.select("doc_id", "p", F.sum("brk").over(w).alias("island"))
    spans = sp.groupBy("doc_id", "island").agg(
        F.min("p").alias("s"), (F.max("p") + l - 1).alias("e")
    )
    span_chars = F.col("e") - F.col("s") + 1
    perdoc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(span_chars).cast("long").alias("dup_chars"),
        F.max(span_chars).cast("long").alias("longest_span"),
    )
    return perdoc.join(d, "doc_id").select(
        "doc_id",
        "n_spans",
        "dup_chars",
        "longest_span",
        F.expr("(1000000 * dup_chars) div length(text)").alias("dup_frac_e6"),
    )


def gram_index_stats(spark, path: str) -> dict:
    """Live counts (no mutable sidecar to drift): distinct grams, rows
    (== grams unless an append raced a reader — set semantics make any
    overage harmless duplicates a compaction removes), buckets, files."""
    root = index_root(path)
    df = spark.read.parquet(root)
    n_rows = df.count()
    n_grams = df.select("h").distinct().count()
    n_files = 0
    for base, _dirs, files in os.walk(root):
        n_files += sum(1 for f in files if f.endswith(".parquet"))
    return {"l": _read_l(path), "rows": n_rows, "grams": n_grams, "files": n_files}


def compact_gram_index(spark, path: str) -> str:
    """Rewrite the bucket partitions at full file sizes (and collapse any
    duplicate rows a torn append may have left) into ``<path>/v<N>``
    behind the atomic pointer; returns the new version directory."""
    old_root = index_root(path)
    new_v = (current_index_version(path) or 0) + 1
    vdir = os.path.join(path, f"v{new_v}")
    (
        spark.read.parquet(old_root)
        .distinct()
        .repartition("bucket")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("bucket")
        .parquet(vdir)
    )
    publish_index_version(path, new_v)
    return vdir
