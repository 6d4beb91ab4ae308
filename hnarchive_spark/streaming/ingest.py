"""Composed streaming ingest gate — the production ingest shape
(VERDICT r14 #3): ONE ``foreachBatch`` verb running

    quality gate -> contamination probe -> MinHash-index dedup probe
    -> idempotent merge

gate-BEFORE-merge, with a per-stage ledger row for every micro-batch —
the streaming twin of the batch-side ``q_curation_pipeline``.  The
individual gates already ride the ingest cadence separately
(index_maint.maintain_quality_gate / maintain_contamination_gate); this
verb is their composition with the decision WIRED IN: rejected docs
never reach the store, and the store + dedup index grow together.

Stage semantics (each stage optional — pass None to skip):

0. **URL dedup** (``url_col``) — canonical-URL collapse against the
   store's curl-bucketed ``urls`` table (functions/urls.py rule set),
   run FIRST because it is the cheapest gate (~60-byte keys, no
   shingles); see maintain_ingest's docstring for the urls-last write
   order and its missed-dedup-never-lost-data crash analysis.
1. **quality** — broadcast weight-table scoring (operators/quality.py;
   ``model_path`` serves the PUBLISHED store version per batch).  Docs
   scoring below ``quality_threshold_e4`` are rejected; zero-token docs
   are unscorable and are QUARANTINED (rejected + counted separately as
   ``ingest_unscored`` — an ingest pipeline must not merge docs it
   cannot score).
2. **contamination** — per-TRAIN-doc probe against the frozen eval
   index (probe_contamination_train: Bloom prune before any exchange,
   bucket-pruned eval scan).  Docs with ``contamination_e4`` above the
   threshold are rejected; docs too short to shingle pass (nothing to
   match).
3. **near-dup** — batch-vs-archive MinHash probe against the persisted
   band index (probe_minhash_pairs: partition-pruned O(batch) probe);
   batch docs with an archive near-dup above the Jaccard threshold are
   rejected.  Batch-INTERNAL duplication defers to the next batch's
   archive — the incremental family's documented trade.
4. **merge** — survivors presence-anti-joined against the doc store
   (bucket-pruned, O(batch)), novel rows appended; the MinHash index is
   appended FIRST (index-ahead is self-healing on crash: a doc in the
   index but not the store simply re-merges on redelivery, while
   store-ahead would hide the doc from every future dedup probe), the
   doc-store append is the commit marker.

Counting: the deduped batch and each stage's survivors are
materialized once by ``index_version.checkpoint_count``, which reads the
stage's row count from that checkpoint job — a ledger count costs no job
of its own.  An empty micro-batch returns 0 before any ledger write or
file; a stage whose input was emptied by an earlier one is skipped, and
its ledger key stays unbumped.

Restart/redelivery: every stage recomputes (advisory ledger
double-count, the gate contract), and the merge's presence check
(``index_version.novel_rows``, as stage 0's URL check) makes a fully
re-delivered batch a no-op — zero rows appended anywhere.

ONE configuration per store: the docs table's schema follows the verb's
configuration (``url_col`` adds a ``curl`` column), so all writers of a
given store must share one gate configuration — mixing url and non-url
closures on the same store would append mixed-schema parquet.

At 100 TB: each stage is O(batch + pruned candidates), never a corpus
pass — the batch shuffles at metadata width, the model and Bloom bitmap
broadcast, and the store/index appends land in bucket partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hnarchive_spark.sources.index_version import (
    checkpoint_count,
    current_index_version,
    index_root,
    novel_rows,
    publish_index_version,
)
from hnarchive_spark.streaming.index_maint import _bump

# doc-store bucket count: matches the minhash docs-table discipline so
# presence checks prune to the batch's own buckets
N_STORE_BUCKETS = 64


def _store_docs_path(store_path: str) -> str:
    return os.path.join(index_root(store_path), "docs")


def _store_urls_path(store_path: str) -> str:
    return os.path.join(index_root(store_path), "urls")


def _d_bucket(col: str = "doc_id") -> F.Column:
    return F.pmod(F.xxhash64(F.col(col)), F.lit(N_STORE_BUCKETS)).alias("d_bucket")


def _u_bucket(col: str = "curl") -> F.Column:
    return F.pmod(F.xxhash64(F.col(col)), F.lit(N_STORE_BUCKETS)).alias("u_bucket")


def read_ingested_docs(spark, store_path: str) -> DataFrame:
    """(doc_id, text) currently merged — the archive accessor the
    near-dup probe verifies against."""
    return spark.read.parquet(_store_docs_path(store_path)).select(
        "doc_id", "text"
    )


def maintain_ingest(
    store_path: str,
    quality_threshold_e4: int | None = None,
    contamination_index_path: str | None = None,
    contamination_threshold_e4: int = 0,
    minhash_index_path: str | None = None,
    jaccard_threshold: float = 0.8,
    model: DataFrame | None = None,
    model_path: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    url_col: str | None = None,
):
    """``foreachBatch`` function composing the full gate-before-merge
    ingest.  Returns the per-batch merged count; the stage-by-stage
    decomposition lands in the store ledger (``ingest_*`` keys).

    ``url_col`` switches on the URL-dedup stage (stage 0 — production
    pipelines run it FIRST because it is the cheapest gate): raw URLs
    canonicalize (functions/urls.py, the q_url_dedup rule set), the
    batch keeps one doc per canonical URL (min doc_id), and survivors
    anti-join the store's curl-bucketed ``urls`` table.  The urls table
    is written LAST in the merge (after the docs commit marker): a
    crash between the two leaves a merged doc with no url row, which a
    redelivery skips by doc-id presence and a future URL-duplicate of
    that page would MERGE rather than dedup — missed dedup, never lost
    data (the safe failure direction; the reverse order would let a
    crash permanently block a document behind a phantom url row)."""

    def _process(batch_df: DataFrame, batch_id: int) -> int:
        spark = batch_df.sparkSession
        cols = [F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")]
        if url_col is not None:
            from hnarchive_spark.functions.urls import canonical_url

            cols.append(canonical_url(F.col(url_col)).alias("curl"))
        # batch-sized by definition
        b, n_rows = checkpoint_count(
            batch_df.select(*cols).dropDuplicates(["doc_id"])
        )
        if not n_rows:
            return 0
        counts = {"ingest_batches": 1, "ingest_rows": n_rows}

        # ---- stage 0: canonical-URL dedup (the cheapest gate first) ----
        if url_col is not None:
            from pyspark.sql import Window

            wu = Window.partitionBy("curl").orderBy("doc_id")
            kept = (
                b.withColumn("_ur", F.row_number().over(wu))
                .filter(F.col("_ur") == 1)
                .drop("_ur")
            )
            kept, n_kept = checkpoint_count(
                novel_rows(
                    spark,
                    kept.withColumn("u_bucket", _u_bucket()),
                    _store_urls_path(store_path),
                    "curl",
                    "u_bucket",
                ).drop("u_bucket")
            )
            counts["ingest_url_dup"] = n_rows - n_kept
            b, n_rows = kept, n_kept

        # ---- stage 1: quality gate (reject low scores + unscorable) ----
        if quality_threshold_e4 is not None and n_rows:
            from hnarchive_spark.operators.quality import (
                fixture_model,
                quality_scores,
            )

            if model_path is not None:
                from hnarchive_spark.sources.quality_model_store import (
                    read_quality_model,
                )

                m = read_quality_model(spark, model_path)
            elif model is not None:
                m = model
            else:
                m = fixture_model(spark)
            # scored is metadata-width (doc_id, n_tokens, quality_e4) —
            # checkpoint once, derive all three stage counts from it
            scored, n_scored_all = checkpoint_count(quality_scores(b, m))
            kept, n_kept = checkpoint_count(
                b.join(
                    scored.filter(
                        F.col("quality_e4") >= quality_threshold_e4
                    ).select("doc_id"),
                    "doc_id",
                    "left_semi",
                )
            )
            counts["ingest_quality_rejected"] = n_scored_all - n_kept
            counts["ingest_unscored"] = n_rows - n_scored_all
            b, n_rows = kept, n_kept

        # ---- stage 2: contamination gate (per-train-doc probe) ----
        if contamination_index_path is not None and n_rows:
            from hnarchive_spark.sources.contamination_index import (
                probe_contamination_train,
            )

            rep = probe_contamination_train(
                spark, b, contamination_index_path
            ).filter(F.col("contamination_e4") > contamination_threshold_e4)
            kept, n_kept = checkpoint_count(
                b.join(rep.select("doc_id"), "doc_id", "left_anti")
            )
            counts["ingest_contaminated"] = n_rows - n_kept
            b, n_rows = kept, n_kept

        # ---- stage 3: near-dup gate (batch vs archive, pruned probe) ----
        if minhash_index_path is not None and n_rows:
            from hnarchive_spark.sources.minhash_index import (
                probe_minhash_pairs,
            )

            if os.path.isdir(_store_docs_path(store_path)):
                pairs = probe_minhash_pairs(
                    spark,
                    b,
                    minhash_index_path,
                    read_ingested_docs(spark, store_path),
                    jaccard_threshold,
                )
                kept, n_kept = checkpoint_count(
                    b.join(
                        pairs.select(F.col("d1").alias("doc_id")).distinct(),
                        "doc_id",
                        "left_anti",
                    )
                )
                counts["ingest_neardup"] = n_rows - n_kept
                b, n_rows = kept, n_kept
            else:
                counts["ingest_neardup"] = 0  # empty archive: nothing to dup

        # ---- stage 4: idempotent merge (presence anti-join, novel only) --
        n_merged = 0
        if n_rows:
            docs_dir = _store_docs_path(store_path)
            novel, n_merged = checkpoint_count(
                novel_rows(
                    spark,
                    b.withColumn("d_bucket", _d_bucket()),
                    docs_dir,
                    "doc_id",
                    "d_bucket",
                )
            )
            if n_merged:
                if minhash_index_path is not None:
                    # index FIRST (self-healing order; module docstring)
                    from hnarchive_spark.sources.minhash_index import (
                        append_minhash_index,
                    )

                    append_minhash_index(
                        spark, novel.select("doc_id", "text"), minhash_index_path
                    )
                (
                    novel.repartition("d_bucket")
                    .write.mode("append")
                    .option("compression", "zstd")
                    .partitionBy("d_bucket")
                    .parquet(docs_dir)
                )
                if url_col is not None:
                    # urls LAST (after the docs commit marker): a crash
                    # here means missed future URL-dedup for these pages,
                    # never a lost or blocked document (docstring)
                    (
                        novel.select("curl", "doc_id")
                        .withColumn("u_bucket", _u_bucket())
                        .repartition("u_bucket")
                        .write.mode("append")
                        .option("compression", "zstd")
                        .partitionBy("u_bucket")
                        .parquet(_store_urls_path(store_path))
                    )
        counts["ingest_merged"] = n_merged
        counts["ingest_skipped"] = n_rows - n_merged
        # generic append-triple aliases so the standard maintenance
        # predicate (needs_maintenance's batch budget -> compaction due)
        # schedules the doc store like every other append family
        counts["batches"] = 1
        counts["appended"] = n_merged
        _bump(store_path, **counts)
        return n_merged

    return _process


def compact_ingest_store(spark, store_path: str) -> str:
    """Collapse the per-batch small-file pileup: every ingest batch
    appends ~1 file per touched bucket, so K batches leave ~K files per
    bucket until compacted.  Rewrites docs (and urls, if the URL stage
    ever ran) coalesced per bucket into ``<store>/v<N+1>`` and publishes
    at the atomic pointer swap (index_version.py) — readers that
    resolved the old root keep a complete tree until
    prune_index_versions.  Returns the new version directory."""
    docs = spark.read.parquet(_store_docs_path(store_path))
    urls = None
    if os.path.isdir(_store_urls_path(store_path)):
        urls = spark.read.parquet(_store_urls_path(store_path))
    new_v = (current_index_version(store_path) or 0) + 1
    vdir = os.path.join(store_path, f"v{new_v}")
    (
        docs.repartition("d_bucket")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("d_bucket")
        .parquet(os.path.join(vdir, "docs"))
    )
    if urls is not None:
        (
            urls.repartition("u_bucket")
            .sortWithinPartitions("curl")
            .write.mode("overwrite")
            .option("compression", "zstd")
            .partitionBy("u_bucket")
            .parquet(os.path.join(vdir, "urls"))
        )
    publish_index_version(store_path, new_v)
    return vdir
