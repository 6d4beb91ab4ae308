"""Persisted MinHash/LSH near-dup index — the production artifact behind
nightly near-duplicate detection (`q_dedup_minhash` computes signatures,
bands, and candidates inline per run; the indexed twin
`q_dedup_minhash_indexed` reads candidates out of this store instead, so
query time spends ZERO work on archive signatures).

Layout (versioned behind the atomic ``_CURRENT`` pointer like the
ANN/BM25/gram-set families, sources/index_version.py):

* ``<root>/bands``  — (doc_id, band, band_key) rows partitioned by
  ``bucket = pmod(xxhash64(band, band_key), N_MH_BUCKETS)``.  A doc's
  banded signature rows land in exactly the buckets its band keys hash
  to, so a probe batch reads ONLY its own buckets (partition-pruned
  scan, plan-locked in tests/test_plan_hygiene.py).
* ``<root>/docs``   — (doc_id, n_shingles) partitioned by
  ``d_bucket = pmod(xxhash64(doc_id), N_DOC_BUCKETS)``: the presence
  set idempotent appends anti-join against (pruned to the batch's own
  id buckets), plus per-doc shingle counts for stats.

Append publish order is bands FIRST, docs LAST — the docs row is the
commit marker.  A crash between the two leaves band rows for a doc the
presence set doesn't know: the re-delivered batch re-appends both, and
the duplicate band rows are harmless because every candidate join is
DISTINCT (compaction physically drops them).  No journal is needed —
the same single-publish-or-self-healing discipline as the gram index,
vs. the text index's two-sided stats that do need one.

What the index does and doesn't store: signatures/bands (the candidate
generator — the part that is quadratic without LSH) are persisted;
shingle SETS are not.  Exact-Jaccard verification re-shingles only the
candidate docs from the corpus (a doc_id semi-join — O(candidates), and
candidates are the rare rows by construction).  That is the honest
production trade: storing per-doc shingle sets would duplicate the
corpus several-fold, while verification cost is already bounded by the
index's own selectivity.

At 100 TB: ``bands`` holds MH_B (16) short rows per doc — metadata-width
next to the corpus; probe cost is the batch's own shingle+signature pass
(the inline form pays it too) plus joins keyed on band-key 64-bit
buckets; appends are O(batch) with the presence anti-join pruned to the
batch's id buckets.  Band-key skew (a boilerplate band key shared by
millions of docs) is the same stop-key hazard as shingle max_df — the
``max_band_df`` knob on :func:`probe_minhash_pairs` drops such keys
before the candidate join, mirroring the documented n-gram guard.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hnarchive_spark.operators.dedup import (
    band_rows,
    minhash_signatures,
    verify_jaccard_pairs,
    word_shingles,
)
from hnarchive_spark.sources.index_version import (
    checkpoint_count,
    current_index_version,
    index_root,
    novel_rows,
    publish_index_version,
)

N_MH_BUCKETS = 64
N_DOC_BUCKETS = 32


def _bands_path(path: str) -> str:
    return os.path.join(index_root(path), "bands")


def _docs_path(path: str) -> str:
    return os.path.join(index_root(path), "docs")


def _bucket() -> F.Column:
    return F.pmod(F.xxhash64("band", "band_key"), F.lit(N_MH_BUCKETS)).alias("bucket")


def _d_bucket(col: str = "doc_id") -> F.Column:
    return F.pmod(F.xxhash64(col), F.lit(N_DOC_BUCKETS)).alias("d_bucket")


def _banded(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, n_shingles-carrying) band rows + sizes for a doc frame —
    the index's shared signature recipe (identical constants to the
    inline q_dedup_minhash via operators/dedup.py)."""
    sh = word_shingles(docs, id_col=id_col, text_col=text_col)
    return band_rows(minhash_signatures(sh)), sh


def build_minhash_index(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Full build; returns the number of indexed docs."""
    os.makedirs(path, exist_ok=True)
    banded, sh = _banded(docs, id_col, text_col)
    (
        banded.withColumn("bucket", _bucket())
        .repartition("bucket")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("bucket")
        .parquet(_bands_path(path))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    (
        sizes.withColumn("d_bucket", _d_bucket())
        .repartition("d_bucket")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("d_bucket")
        .parquet(_docs_path(path))
    )
    return spark.read.parquet(_docs_path(path)).count()


def append_minhash_index(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Append a batch's NOVEL docs (O(batch)); returns how many were new.

    Idempotence: batch ids are deduped intra-batch (dropDuplicates on the
    id — r11's lesson: a batch containing the same doc twice must index
    it once), then anti-joined against the presence set pruned to the
    batch's OWN id buckets.  Re-delivering an already-indexed batch
    appends zero rows and skips both writes.  Publish order bands → docs
    (docs is the commit marker; see module doc for the torn-append
    self-healing argument)."""
    b = batch.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).dropDuplicates(["doc_id"])
    b = b.withColumn("d_bucket", _d_bucket()).persist()
    try:
        novel, n_new = checkpoint_count(
            novel_rows(spark, b, _docs_path(path), "doc_id", "d_bucket")
        )
        if n_new == 0:
            return 0
        banded, sh = _banded(novel, "doc_id", "text")
        (
            banded.withColumn("bucket", _bucket())
            .repartition("bucket")
            .write.mode("append")
            .option("compression", "zstd")
            .partitionBy("bucket")
            .parquet(_bands_path(path))
        )
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
        (
            sizes.withColumn("d_bucket", _d_bucket())
            .repartition("d_bucket")
            .write.mode("append")
            .option("compression", "zstd")
            .partitionBy("d_bucket")
            .parquet(_docs_path(path))
        )
        return n_new
    finally:
        b.unpersist()


def _probe_candidates(
    spark: SparkSession,
    b_bands: DataFrame,
    path: str,
    buckets: list,
    max_band_df: int | None,
) -> DataFrame:
    """The probe's LAZY candidate-pair frame: batch band rows joined into
    ONLY the archive band buckets they hash to (bucket isin -> partition-
    pruned scan of the persisted bands), optional stop-key guard, pair
    dedup.  Split out so the pruning invariant stays plan-lockable after
    probe_minhash_pairs checkpoints the result."""
    arch = spark.read.parquet(_bands_path(path)).filter(F.col("bucket").isin(buckets))
    x = b_bands.select(F.col("doc_id").alias("d1"), "band", "band_key")
    y = arch.select(F.col("doc_id").alias("d2"), "band", "band_key")
    if max_band_df is not None:
        # stop-key guard: drop archive band keys matched by more than N
        # archive rows BEFORE pairing (bounds any key's pair fanout)
        hot = (
            y.groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_band_df)
        )
        y = y.join(hot.select("band", "band_key"), ["band", "band_key"], "left_anti")
    return (
        x.join(y, ["band", "band_key"])
        .filter(F.col("d1") != F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )


def _batch_bands(
    batch: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """(batch shingles, banded+bucketed batch rows) — the probe's bucket
    derivation, exposed as ONE helper shared by :func:`probe_minhash_pairs`
    and tests/test_minhash_index.py's partition-pruning lock, so the frame
    the test asserts on IS the frame the probe builds (ADVICE r18: the
    test previously duplicated this pipeline and could drift)."""
    b = batch.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    b_sh = word_shingles(b)
    return b_sh, band_rows(minhash_signatures(b_sh)).withColumn("bucket", _bucket())


def probe_minhash_pairs(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    archive_docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_band_df: int | None = None,
) -> DataFrame:
    """Batch-vs-archive near-dup pairs: (d1=batch doc, d2=archive doc,
    jaccard_e4 >= threshold), candidates found by joining the batch's
    band keys into ONLY the band buckets they hash to (partition-pruned
    archive scan), then exact-verified by re-shingling just the
    candidate docs.  ``archive_docs`` is the corpus accessor the verify
    stage semi-joins candidate ids into — the index never stores text.
    ``max_band_df`` drops (band, band_key) keys matched by more than N
    ARCHIVE rows before pairing (the stop-key skew guard — it bounds
    each key's archive-side fanout, not the batch's)."""
    t_e4 = int(round(threshold * 10000))
    # the batch shingle frame stays LAZY: its two consumers (the signature
    # aggregate below, the verify leg at the end) each recompute one
    # batch-sized pass — stateless and O(batch), vs holding a corpus-slice
    # of shingle strings in block storage per probe (an eager checkpoint
    # here measurably pressured long bench sessions). Only the banded
    # rows — 16 short rows per doc — are checkpointed: they feed the
    # bucket collect AND the candidate join, and the checkpoint severs
    # the signature pipeline from being re-run per consumer.
    b_sh, b_bands = _batch_bands(batch, id_col, text_col)
    b_bands = b_bands.localCheckpoint(eager=True)
    buckets = [r[0] for r in b_bands.select("bucket").distinct().collect()]
    if not buckets:
        return spark.createDataFrame([], "d1 long, d2 long, jaccard_e4 long")
    cands = (
        _probe_candidates(spark, b_bands, path, buckets, max_band_df)
        # metadata-width (two longs per LSH-survivor pair, the r13
        # checkpoint rule's allowed class): without this the candidate
        # band join + distinct is re-run once per downstream reference —
        # broadcast in the verify, plus the two semi-join id lists, each
        # referenced again by every verify-side consumer of the shingle
        # frame — 7 executions of the same join in the before plan
        # (plans/r18/q_dedup_minhash_incremental_before.txt: 30 Exchange
        # nodes / 17 parquet scans / 21 joins vs 24 / 12 / 18 after;
        # guide §1.2).  The partition-pruned
        # archive scan now runs inside this eager checkpoint;
        # test_probe_scan_is_partition_pruned locks the pruning on
        # _probe_candidates' own (lazy) plan.
        .localCheckpoint(eager=True)
    )
    cand_b = cands.select(F.col("d1").alias("doc_id")).distinct()
    cand_arch = cands.select(F.col("d2").alias("doc_id")).distinct()
    a_sh = word_shingles(
        archive_docs.join(cand_arch, archive_docs[id_col] == cand_arch.doc_id, "left_semi"),
        id_col=id_col,
        text_col=text_col,
    )
    # distinct: a doc probed against an archive that already contains it
    # (a re-probe) would otherwise double its shingle rows in the union.
    # The verify references this frame three times (pair-common a/b legs
    # + the sizes aggregate) and re-shingles candidates per reference —
    # DELIBERATELY left lazy: a persist here measured wall-neutral at
    # sf0.1 (A/B in OPTIMIZATION_r18.md) and, because this probe runs
    # once per micro-batch inside streaming ingest where nothing ever
    # calls unpersist/clearCache, a persist would leak one CacheManager
    # entry per batch for the stream's lifetime.  The candidate
    # checkpoint above is safe (RDD blocks free on driver GC via
    # ContextCleaner; the frame is metadata-width regardless).
    sh = b_sh.join(cand_b, "doc_id", "left_semi").unionByName(a_sh).distinct()
    return verify_jaccard_pairs(cands, sh, t_e4)


def index_pairs(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Whole-archive near-dup pairs SERVED FROM THE INDEX: candidates come
    from a self-join of the persisted band rows (no signature is computed
    at query time — the inline form's whole signature pipeline is
    amortized into the build), exact-verified by re-shingling only the
    candidate docs.  Row-identical to the inline q_dedup_minhash over the
    same corpus (shared oracle)."""
    t_e4 = int(round(threshold * 10000))
    bands = spark.read.parquet(_bands_path(path))
    x, y = bands.alias("x"), bands.alias("y")
    cands = (
        x.join(
            y,
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2"))
        .distinct()
    )
    cand_ids = cands.select(F.col("d1").alias("doc_id")).unionByName(
        cands.select(F.col("d2").alias("doc_id"))
    ).distinct()
    d = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    sh = word_shingles(d.join(cand_ids, "doc_id", "left_semi"))
    return verify_jaccard_pairs(cands, sh, t_e4)


def minhash_index_stats(spark: SparkSession, path: str) -> dict:
    """Live stats: indexed docs, band rows (> docs*16 means torn-append
    duplicates awaiting compaction), buckets, parquet file count."""
    root = index_root(path)
    docs = spark.read.parquet(_docs_path(path))
    bands = spark.read.parquet(_bands_path(path))
    n_files = 0
    for _base, _dirs, files in os.walk(root):
        n_files += sum(1 for f in files if f.endswith(".parquet"))
    return {
        "docs": docs.count(),
        "band_rows": bands.count(),
        "buckets": bands.select("bucket").distinct().count(),
        "files": n_files,
    }


def compact_minhash_index(spark: SparkSession, path: str) -> str:
    """Rewrite both components clustered at full file sizes (dropping any
    torn-append duplicate band rows) into ``<path>/v<N>`` behind the
    atomic pointer; returns the new version directory.  Like the LSH/gram
    families there is no trained state, so compaction IS the rebuild."""
    old_bands = _bands_path(path)
    old_docs = _docs_path(path)
    new_v = (current_index_version(path) or 0) + 1
    vdir = os.path.join(path, f"v{new_v}")
    (
        spark.read.parquet(old_bands)
        .distinct()
        .repartition("bucket")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("bucket")
        .parquet(os.path.join(vdir, "bands"))
    )
    (
        spark.read.parquet(old_docs)
        .dropDuplicates(["doc_id"])
        .repartition("d_bucket")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("d_bucket")
        .parquet(os.path.join(vdir, "docs"))
    )
    publish_index_version(path, new_v)
    return vdir
