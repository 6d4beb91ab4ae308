"""Composed streaming VECTOR ingest — the embedding side of the ingest
stack: ONE ``foreachBatch`` verb running

    semantic near-dup gate (batch vs archive, frozen centroids)
    -> vec-store append (fetch side FIRST — the self-healing order)
    -> IVF-PQ append (search side)

gate-BEFORE-index, with a per-stage ledger row per micro-batch — the
embedding twin of streaming/ingest.py's document verb.

Stage semantics (the gate is optional — pass None to skip):

1. **semantic near-dup** — batch vectors probe the FROZEN SemDeDup
   centroids (sources/semdedup_index.semdedup_probe_batch): one
   broadcast assignment pass over the batch, archive membership read
   pruned to only the batch's clusters, archive x batch cosine within
   clusters — never batch x batch and never corpus x corpus.  Batch
   vectors with an archive neighbor at ``>= t_e6`` are rejected; the
   archive is the vec store itself (read_vec_store), so the gate and
   the stores grow together.
2. **vec-store append** — novel survivors land in the id-bucketed
   raw-vector store (presence anti-join pruned to the batch's own
   buckets, sources/vec_store.py).
3. **membership append** — the SAME survivors join the SemDeDup
   membership table (append_semdedup_index, its own presence-checked
   no-op on redelivery), so the gate's coverage grows with the store.
4. **IVF-PQ append** — the survivors encode against the frozen
   quantizers into their list partitions (append_ivfpq_index,
   skip-on-conflict).

Write order is FETCH-side first, deliberately: a crash between the two
appends leaves a vector fetchable but not yet searchable, which the
redelivered batch repairs (the vec-store skip rail drops it, the
IVF-PQ append picks it up through its own presence check).  The
REVERSE order would leave a vector searchable but not fetchable — the
exact-refine rerank would silently drop it from every shortlist it
wins.  Same self-healing analysis as the doc verb's index-ahead merge,
pointed at the serving stack.

Conservation law (per batch, ledger keys ``vingest_*``):
``rows == neardup + appended + skipped``.  The row counts are read from
the jobs that checkpoint the batch and the gate's survivors
(``index_version.checkpoint_count``), so counting adds no job; an empty
micro-batch returns 0 before any ledger write or file.

Restart/redelivery: the gate re-probes (advisory double-count, the
gate contract), both appends are presence-checked — a fully
re-delivered batch appends 0 everywhere.

At 100 TB: the gate is O(batch + pruned members), the appends land in
bucket/list partitions, nothing is a corpus pass.  The stores must be
seeded non-empty (the house build verbs), like every append family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hnarchive_spark.sources.index_version import checkpoint_count
from hnarchive_spark.streaming.index_maint import _bump


def maintain_vector_ingest(
    vec_store_path: str,
    ivfpq_path: str | None = None,
    n_sub: int | None = None,
    semdedup_index_path: str | None = None,
    t_e6: int | None = None,
    max_pivots: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """``foreachBatch`` function composing the gated vector ingest.
    Returns the per-batch appended count; the stage decomposition lands
    in the vec store's ledger (``vingest_*`` keys, conservation law in
    the module docstring).  ``max_pivots`` passes the hot-cluster skew
    guard through to the gate's pair join (semdedup_probe_batch)."""

    def _process(batch_df: DataFrame, batch_id: int) -> int:
        spark = batch_df.sparkSession
        # batch-sized by definition
        b, n_rows = checkpoint_count(
            batch_df.select(
                F.col(id_col).cast("long").alias("vec_id"),
                F.col(vec_col).alias("embedding"),
            ).dropDuplicates(["vec_id"])
        )
        if not n_rows:
            return 0
        counts = {"vingest_batches": 1, "vingest_rows": n_rows}

        # ---- stage 1: semantic near-dup gate (batch vs archive) ----
        if semdedup_index_path is not None and t_e6 is not None:
            from hnarchive_spark.sources.semdedup_index import (
                semdedup_probe_batch,
            )
            from hnarchive_spark.sources.vec_store import read_vec_store

            # the archive EXCLUDES this batch's own ids: a redelivered
            # batch (whose rows already landed in the store before a
            # crash) must reproduce its FIRST-delivery gating, not be
            # gated against itself — otherwise a batch-internal near-dup
            # pair redelivered after a crash between the appends would
            # drop at the gate and never reach the IVF-PQ repair append,
            # staying fetchable-but-unsearchable forever (review r15).
            archive = read_vec_store(spark, vec_store_path).join(
                b.select("vec_id"), "vec_id", "left_anti"
            )
            drops = semdedup_probe_batch(
                spark,
                b,
                semdedup_index_path,
                archive,
                t_e6,
                max_pivots=max_pivots,
            )
            kept, n_kept = checkpoint_count(
                b.join(drops.select("vec_id").distinct(), "vec_id", "left_anti")
            )
            counts["vingest_neardup"] = n_rows - n_kept
            b, n_rows = kept, n_kept
        else:
            counts["vingest_neardup"] = 0

        # ---- stage 2+3: fetch-side append FIRST, then the search side --
        appended = 0
        if n_rows:
            from hnarchive_spark.sources.vec_store import append_vec_store

            appended = append_vec_store(
                spark, b, vec_store_path, on_conflict="skip"
            )
            if semdedup_index_path is not None:
                # gate coverage must grow with the store: survivors join
                # the membership table too (append_semdedup_index is its
                # own presence-checked no-op on redelivery).  A crash
                # between the two appends leaves a vector fetchable but
                # un-membered — future batches MISS deduping against it
                # until the redelivered batch repairs the row: missed
                # dedup, never lost data (the urls-last analysis).
                from hnarchive_spark.sources.semdedup_index import (
                    append_semdedup_index,
                )

                append_semdedup_index(spark, b, semdedup_index_path)
            if ivfpq_path is not None:
                from hnarchive_spark.sources.ann_index import append_ivfpq_index

                append_ivfpq_index(
                    spark, b, ivfpq_path, n_sub, on_conflict="skip"
                )
        counts["vingest_appended"] = appended
        counts["vingest_skipped"] = n_rows - appended
        _bump(vec_store_path, **counts)
        return appended

    return _process
