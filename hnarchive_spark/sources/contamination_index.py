"""Persisted contamination gate — the eval-side index behind train/eval
leakage checks (`q_contamination` recomputes the eval split's Bloom
bitmap and shingle set on every run; the indexed twin
`q_contamination_indexed` probes THIS store instead, so each training
batch costs O(batch) — the gate a pipeline runs on every ingest day
without ever re-shingling its benchmark suite).

Layout (versioned behind the atomic ``_CURRENT`` pointer):

* ``<root>/ev``    — (doc_id, shingle) rows of the eval split,
  partitioned by ``s_bucket = pmod(xxhash64(shingle), N_SH_BUCKETS)``
  so a probe reads only the buckets its surviving shingles hash to;
* ``<root>/bloom`` — the (w, bits) Bloom bitmap of the eval shingles
  (operators/bloom.py) — broadcast at probe time to prune the training
  batch BEFORE its exchange, exactly like the inline plan.  The bitmap
  is itself versioned behind a ``_CURRENT`` pointer inside the bloom
  component (``bloom/v<N>``): an OR-merge writes the merged bitmap to
  ``v<N+1>`` and then swaps the pointer atomically, so the live bitmap
  is never deleted-then-rewritten — a crash mid-merge leaves the old
  complete bitmap published and the torn new one unreferenced;
* ``<root>/tot``   — (doc_id, n_shingles) per eval doc: the output's
  denominator AND the presence set appends anti-join against.

Append publish order is ev → bloom → tot; ``tot`` is the commit marker.
The torn states are all safe supersets: ev rows for a doc missing from
tot are invisible (output is keyed by tot) and de-duplicated at probe
time if a re-delivery re-appends them; extra bloom bits only admit
false positives, which the exact semi-join removes — no false negative
is possible because bloom bits are only ever ADDED before tot commits.
:func:`recover_contamination_index` re-derives bloom and tot wholly
from ev (both are pure functions of it), so no journal is needed.

At 100 TB: the eval suite is the SMALL side by construction (benchmarks,
not corpora) — the index holds its shingles once; a probe's cost is the
training batch's own shingle pass (which the inline form also pays),
the broadcast Bloom prune (>90% of batch shingles never reach the
exchange), and a semi-join into only the matching shingle buckets.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hnarchive_spark.operators.bloom import bloom_build, bloom_prune
from hnarchive_spark.operators.dedup import word_shingles
from hnarchive_spark.sources.index_version import (
    checkpoint_count,
    current_index_version,
    index_root,
    publish_index_version,
    retain,
)

N_SH_BUCKETS = 64


def _ev_path(path: str) -> str:
    return os.path.join(index_root(path), "ev")


def _bloom_path(path: str) -> str:
    return os.path.join(index_root(path), "bloom")


def _bloom_data_path(path: str) -> str:
    """Resolve the CURRENT bloom bitmap directory.

    The bloom component is versioned (``bloom/v<N>`` + pointer) so a
    merge never overwrites the live bitmap in place.  A pre-versioning
    flat layout (parquet files directly under ``bloom/``) resolves to
    the component root itself."""
    broot = _bloom_path(path)
    v = current_index_version(broot)
    return broot if v is None else os.path.join(broot, f"v{v}")


def _publish_bloom(bitmap: DataFrame, broot: str) -> None:
    """Write ``bitmap`` to ``<broot>/v<N+1>`` and atomically swap the
    pointer, then ``retain`` one back version: the bitmap is republished
    per merge, so retain-until-pruned would grow a version per append
    for a scalar-sized artifact, and the one back version protects a
    reader that resolved the pointer just before the swap."""
    new_v = (current_index_version(broot) or 0) + 1
    bitmap.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(broot, f"v{new_v}")
    )
    publish_index_version(broot, new_v)
    retain(broot, 1)


def _tot_path(path: str) -> str:
    return os.path.join(index_root(path), "tot")


def _s_bucket() -> F.Column:
    return F.pmod(F.xxhash64("shingle"), F.lit(N_SH_BUCKETS)).alias("s_bucket")


def _write_ev(sh: DataFrame, path: str, mode: str) -> None:
    (
        sh.withColumn("s_bucket", _s_bucket())
        .repartition("s_bucket")
        .write.mode(mode)
        .option("compression", "zstd")
        .partitionBy("s_bucket")
        .parquet(_ev_path(path))
    )


def build_contamination_index(
    spark: SparkSession,
    eval_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Index the eval split; returns the number of eval docs indexed."""
    os.makedirs(path, exist_ok=True)
    sh = word_shingles(eval_docs, id_col=id_col, text_col=text_col).localCheckpoint(
        eager=True
    )
    _write_ev(sh, path, "overwrite")
    _publish_bloom(bloom_build(sh, "shingle"), _bloom_path(path))
    tot = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    tot.coalesce(1).write.mode("overwrite").parquet(_tot_path(path))
    return spark.read.parquet(_tot_path(path)).count()


def append_contamination_index(
    spark: SparkSession,
    new_eval_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Absorb newly added eval docs (a new benchmark): novel docs only
    (presence anti-join vs tot, intra-batch deduped), their shingles
    appended, the Bloom bitmap OR-merged, their tot rows appended LAST
    (the commit).  Returns how many docs were new; a fully re-delivered
    batch appends nothing and writes nothing."""
    b = new_eval_docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).dropDuplicates(["doc_id"])
    existing = spark.read.parquet(_tot_path(path)).select("doc_id")
    novel, n_new = checkpoint_count(b.join(existing, "doc_id", "left_anti"))
    if n_new == 0:
        return 0
    sh = word_shingles(novel).localCheckpoint(eager=True)
    _write_ev(sh, path, "append")
    # OR-merge the bitmap: old words union the batch's words, bit_or per
    # word index.  The merged bitmap lands in a NEW version dir and is
    # published by the atomic pointer swap (never a delete-then-write of
    # the live bitmap), so the read path needs no lineage severing.
    old = spark.read.parquet(_bloom_data_path(path))
    merged = (
        old.unionByName(bloom_build(sh, "shingle"))
        .groupBy("w")
        .agg(F.bit_or("bits").alias("bits"))
    )
    _publish_bloom(merged, _bloom_path(path))
    tot = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    tot.coalesce(1).write.mode("append").parquet(_tot_path(path))
    return n_new


def probe_contamination(
    spark: SparkSession,
    train_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-eval-doc contamination vs a training batch: (doc_id,
    n_shingles, n_hits, contamination_e4) for EVERY indexed eval doc —
    q_contamination's exact schema.  The batch's distinct shingles are
    Bloom-pruned by the persisted bitmap before any exchange, then
    semi-joined into only the eval-shingle buckets they hash to
    (partition-pruned scan)."""
    # tr stays LAZY: it has a single consumer (the bloom_prune chain
    # feeding the survivors checkpoint below), so an eager checkpoint
    # here would hold a corpus-sized shingle frame in block storage per
    # probe — the same leak probe_minhash_pairs documents and avoids.
    tr = word_shingles(train_docs, id_col=id_col, text_col=text_col).select("shingle")
    bitmap = spark.read.parquet(_bloom_data_path(path))
    survivors = bloom_prune(tr, "shingle", bitmap).withColumn("s_bucket", _s_bucket())
    survivors = survivors.localCheckpoint(eager=True)
    buckets = [r[0] for r in survivors.select("s_bucket").distinct().collect()]
    tot = spark.read.parquet(_tot_path(path))
    if not buckets:
        return tot.select(
            "doc_id",
            "n_shingles",
            F.lit(0).cast("long").alias("n_hits"),
            F.lit(0).cast("long").alias("contamination_e4"),
        )
    ev = spark.read.parquet(_ev_path(path)).filter(F.col("s_bucket").isin(buckets))
    hits = (
        ev.join(survivors.select("shingle"), "shingle", "left_semi")
        # distinct guards against torn-append duplicate ev rows
        .select("doc_id", "shingle")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return tot.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        F.expr("(coalesce(n_hits, 0) * 10000) div n_shingles").alias("contamination_e4"),
    )


def probe_contamination_train(
    spark: SparkSession,
    train_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-TRAIN-doc contamination vs the frozen eval index: (doc_id,
    n_shingles, n_hits, contamination_e4) for every batch doc with at
    least one shingle — the transpose of :func:`probe_contamination`
    (which reports per EVAL doc), and the shape an INGEST gate needs:
    "which docs of THIS batch carry eval shingles" is a per-batch-doc
    verdict.  Same scale path: the batch's (doc_id, shingle) rows are
    Bloom-pruned by the broadcast bitmap before any exchange, survivors
    semi-joined into only the eval-shingle buckets they hash to.  Docs
    too short to shingle have no feature rows and are absent from the
    output — an ingest caller treats absent as uncontaminated (nothing
    to match) rather than unscorable."""
    tr = word_shingles(train_docs, id_col=id_col, text_col=text_col)
    tot = tr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    bitmap = spark.read.parquet(_bloom_data_path(path))
    # post-prune survivors only are checkpointed (the probe_contamination
    # discipline): the pre-prune shingle frame stays lazy, single consumer
    surv = bloom_prune(tr, "shingle", bitmap).withColumn("s_bucket", _s_bucket())
    surv = surv.localCheckpoint(eager=True)
    buckets = [r[0] for r in surv.select("s_bucket").distinct().collect()]
    if not buckets:
        return tot.select(
            "doc_id",
            "n_shingles",
            F.lit(0).cast("long").alias("n_hits"),
            F.lit(0).cast("long").alias("contamination_e4"),
        )
    ev = (
        spark.read.parquet(_ev_path(path))
        .filter(F.col("s_bucket").isin(buckets))
        .select("shingle")
    )
    hits = (
        surv.join(ev, "shingle", "left_semi")
        .select("doc_id", "shingle")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return tot.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        F.expr(
            "(coalesce(n_hits, 0) * 10000) div n_shingles"
        ).alias("contamination_e4"),
    )


def contamination_index_stats(spark: SparkSession, path: str) -> dict:
    ev = spark.read.parquet(_ev_path(path))
    tot = spark.read.parquet(_tot_path(path))
    root = index_root(path)
    n_files = 0
    for _base, _dirs, files in os.walk(root):
        n_files += sum(1 for f in files if f.endswith(".parquet"))
    return {
        "eval_docs": tot.count(),
        "ev_rows": ev.count(),
        "bloom_words": spark.read.parquet(_bloom_data_path(path)).count(),
        "files": n_files,
    }


def recover_contamination_index(spark: SparkSession, path: str) -> str:
    """Rebuild bloom and tot wholly from ev (dropping any torn-append
    duplicate ev rows) into ``<path>/v<N>`` behind the atomic pointer —
    the recovery verb AND the compaction (ev rewrites clustered)."""
    ev = spark.read.parquet(_ev_path(path)).select("doc_id", "shingle").distinct()
    ev = ev.localCheckpoint(eager=True)
    new_v = (current_index_version(path) or 0) + 1
    vdir = os.path.join(path, f"v{new_v}")
    (
        ev.withColumn("s_bucket", _s_bucket())
        .repartition("s_bucket")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("s_bucket")
        .parquet(os.path.join(vdir, "ev"))
    )
    _publish_bloom(bloom_build(ev, "shingle"), os.path.join(vdir, "bloom"))
    (
        ev.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(vdir, "tot"))
    )
    publish_index_version(path, new_v)
    return vdir
