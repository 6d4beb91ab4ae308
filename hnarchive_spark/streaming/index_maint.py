"""Streaming maintenance of the persisted secondary indexes: every
micro-batch is one O(batch) append into the BM25 text index or an ANN
index (LSH, IVF, IVF-PQ) via ``foreachBatch`` — the index-freshness
counterpart of the store's streaming merge sink (``streaming/sink.py``).

This closes the loop the r10/r11 index-lifecycle work opened: the store
ingests continuously (livestream → ``stream_merge_into_store``), but the
persisted indexes only moved when someone called the batch ``append_*``
functions by hand.  At 100 TB the indexes must ride the same micro-batch
cadence, and that imposes the one property batch appends don't have on
their own: **restart idempotence**.  Structured Streaming's ``foreachBatch``
is at-least-once — after a crash the last un-checkpointed micro-batch is
re-delivered in full — so a maintenance sink that blindly appended would
double postings/codes, and one that used the appends' default
``on_conflict="error"`` would wedge the stream on its first restart.

The design here gets exactly-once EFFECT from two pieces, both living in
the batch layer (``sources/text_index.py``, ``sources/ann_index.py``) so
batch and streaming maintenance share one code path:

* ``on_conflict="skip"``: already-indexed ids are anti-joined out of the
  batch against only the batch's OWN touched bucket/list partitions
  (O(touched partitions), not O(index)).  A re-delivered micro-batch
  therefore appends exactly the rows its interrupted predecessor did not
  land — including the half-landed case, since parquet job commit makes
  each append's postings/codes all-or-nothing.
* the text index's append journal: a crash in the postings-job → stats-
  rewrite gap is detected on the next batch (``needs_recovery``) and
  exactly repaired by ``recover_text_index`` BEFORE the batch appends —
  the sink self-heals instead of wedging.

What this deliberately does NOT do: updates.  A re-delivered id whose
text/vector changed is skipped, not re-encoded — an append-only index
defers updates to the next ``rebuild_*``/``compact_*`` (the Lucene segment
model; see SCALE.md r11).  Because ``foreachBatch`` discards the
maintenance functions' return values, the appended/skipped counts are
also accumulated into a ``_MAINT_STATS.json`` ledger at the index root
(:func:`maintenance_stats`); :func:`needs_maintenance` is the scheduling
predicate that turns the skipped volume (pending updates → rebuild) or
the batch count (small-file pileup → compaction) into the "run the
lifecycle verb now" decision.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from hnarchive_spark.sources.ann_index import (
    append_ivf_index,
    append_ivfpq_index,
    append_lsh_index,
)
from hnarchive_spark.sources.index_version import read_json, write_json_atomic
from hnarchive_spark.sources.text_index import (
    append_text_index,
    needs_recovery,
    recover_text_index,
)

_MAINT_STATS = "_MAINT_STATS.json"


def _bump(ledger_path: str, high: dict[str, int] | None = None, **deltas: int) -> None:
    """Accumulate counts into the ``_MAINT_STATS`` ledger at
    ``ledger_path``: each ``deltas`` key is summed, each ``high`` key keeps
    its maximum.  One read-modify-write, published atomically.

    SINGLE WRITER PER PATH (ADVICE r14): the read-modify-write is not
    locked — the 'overstating, never understating' contract of every
    ledger holds only while at most one stream targets a given ledger
    path at a time (the repo's composition, enforced by giving each
    stream its own checkpoint+ledger pair).  Two concurrent writers on
    ONE path could lose (understate) each other's bumps; compose
    concurrent sinks on separate paths and sum at read time."""
    p = os.path.join(ledger_path, _MAINT_STATS)
    d = read_json(p, {})
    for k, v in deltas.items():
        d[k] = d.get(k, 0) + int(v)
    for k, v in (high or {}).items():
        d[k] = max(d.get(k, 0), int(v))
    write_json_atomic(p, d)


def _bump_maint_stats(index_path: str, appended: int, skipped: int) -> None:
    """Accumulate the per-batch maintenance counts into a sidecar at the
    index root — ``writeStream.foreachBatch`` DISCARDS the maintenance
    functions' return values, so without this ledger the skipped volume
    (= updates an append-only index is deferring to the next
    rebuild/compaction) would be unobservable exactly where it matters.
    Single-writer by construction (one streaming query per index, batches
    sequential); ADVISORY numbers — an at-least-once re-delivered batch
    bumps ``skipped`` again, which overstates but never understates the
    pending-update volume."""
    _bump(index_path, appended=appended, skipped=skipped, batches=1)


def maintenance_stats(index_path: str, reset: bool = False) -> dict:
    """The accumulated maintenance ledger for an index (zeros if no
    streaming maintenance has run).  ``reset=True`` clears it — the
    operator move after SCHEDULING the rebuild/compaction the counts
    argued for, so the next window accumulates fresh."""
    p = os.path.join(index_path, _MAINT_STATS)
    d = read_json(p, {})
    # a ledger created by the read-only gate has only gate_* keys (and
    # vice versa) — readers always see the append-triple defaulted
    d = {"appended": 0, "skipped": 0, "batches": 0, **d}
    if reset:
        try:
            os.remove(p)
        except FileNotFoundError:
            pass
    return d


def needs_maintenance(
    index_path: str, max_skipped: int = 0, max_batches: int = 0
) -> bool:
    """The scheduling predicate the ledger exists for: True once the
    skipped volume (pending updates → ``rebuild_*``) or the batch count
    (small-file pileup → ``compact_*``) crosses the given budget.  A
    budget of 0 disables that dimension."""
    d = maintenance_stats(index_path)
    return (0 < max_skipped <= d["skipped"]) or (0 < max_batches <= d["batches"])


def maintain_text_index(
    index_path: str, id_col: str = "doc_id", text_col: str = "text"
):
    """The ``foreachBatch`` function for text-index maintenance.

    Run it on a stream with :func:`stream_maintenance`; tests (and batch
    backfills) can also drive the exact per-batch logic without a streaming
    query: recover a torn predecessor append first, then append with
    skip-on-conflict idempotence."""

    def _process(batch_df: DataFrame, batch_id: int) -> int:
        # one count doubles as the empty-tick guard — cheaper than a
        # separate isEmpty() pass, since each action re-scans the batch
        n_in = batch_df.count()
        if n_in == 0:
            return 0
        spark = batch_df.sparkSession
        if needs_recovery(index_path):
            # a previous batch crashed between its postings job and stats
            # rewrite; repair exactly, then proceed — the re-delivered
            # rows of that batch are skipped by the anti-join below
            recover_text_index(spark, index_path)
        appended = append_text_index(
            spark, batch_df, index_path, id_col, text_col, on_conflict="skip"
        )
        _bump_maint_stats(index_path, appended, n_in - appended)
        return appended

    return _process


def maintain_ivfpq_index(
    index_path: str,
    n_sub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """The ``foreachBatch`` function for IVF-PQ index maintenance.

    No journal here: the codes append is ONE parquet job (all-or-nothing
    at job commit) with no separate stats artifact, so skip-on-conflict
    alone makes re-delivery a no-op."""

    def _process(batch_df: DataFrame, batch_id: int) -> int:
        n_in = batch_df.count()
        if n_in == 0:
            return 0
        appended = append_ivfpq_index(
            batch_df.sparkSession,
            batch_df,
            index_path,
            n_sub,
            id_col=id_col,
            vec_col=vec_col,
            on_conflict="skip",
        )
        _bump_maint_stats(index_path, appended, n_in - appended)
        return appended

    return _process


def maintain_ivf_index(
    index_path: str, id_col: str = "vec_id", vec_col: str = "embedding"
):
    """``foreachBatch`` function for plain-IVF index maintenance — same
    single-job-append reasoning as :func:`maintain_ivfpq_index` (rows,
    not PQ codes, but identically all-or-nothing at job commit).  Wire it
    exactly like the other families:
    ``stream.writeStream.foreachBatch(maintain_ivf_index(path))``."""

    def _process(batch_df: DataFrame, batch_id: int) -> int:
        n_in = batch_df.count()
        if n_in == 0:
            return 0
        appended = append_ivf_index(
            batch_df.sparkSession, batch_df, index_path,
            id_col=id_col, vec_col=vec_col, on_conflict="skip",
        )
        _bump_maint_stats(index_path, appended, n_in - appended)
        return appended

    return _process


def maintain_lsh_index(
    index_path: str, id_col: str = "vec_id", vec_col: str = "embedding"
):
    """``foreachBatch`` function for LSH index maintenance — the
    data-independent family (no trained state, no recall drift from
    appends); re-delivery idempotence comes from the shared
    skip-on-conflict rail like everywhere else."""

    def _process(batch_df: DataFrame, batch_id: int) -> int:
        n_in = batch_df.count()
        if n_in == 0:
            return 0
        appended = append_lsh_index(
            batch_df.sparkSession, batch_df, index_path,
            id_col=id_col, vec_col=vec_col, on_conflict="skip",
        )
        _bump_maint_stats(index_path, appended, n_in - appended)
        return appended

    return _process


def maintain_vec_store(
    index_path: str, id_col: str = "vec_id", vec_col: str = "embedding"
):
    """``foreachBatch`` function for raw-vector-store maintenance
    (sources/vec_store.py — the point-fetch side of the serving stack):
    per micro-batch, novel vectors append into their own bucket
    partitions (presence anti-join pruned to the batch's buckets), so
    the vectors the ANN index ingests stay fetchable for the exact-
    refine rerank at the same cadence.  Re-delivery idempotence comes
    from the shared skip-on-conflict rail like every append family."""
    from hnarchive_spark.sources.vec_store import append_vec_store

    def _process(batch_df: DataFrame, batch_id: int) -> int:
        n_in = batch_df.count()
        if n_in == 0:
            return 0
        appended = append_vec_store(
            batch_df.sparkSession, batch_df, index_path,
            id_col=id_col, vec_col=vec_col, on_conflict="skip",
        )
        _bump_maint_stats(index_path, appended, n_in - appended)
        return appended

    return _process


def maintain_gram_index(index_path: str, id_col: str = "doc_id", text_col: str = "text"):
    """``foreachBatch`` function for substring-gram-index maintenance —
    the simplest family: a gram SET makes duplicate delivery a semantic
    no-op (re-played micro-batches append zero rows by construction), so
    there is no on_conflict dial and no journal.  The ledger's "skipped"
    slot stays 0 — a duplicate gram here is not a conflict, it is the
    set working; ``appended`` counts NOVEL grams, the number that drives
    the small-file pileup compaction schedules on."""
    from hnarchive_spark.sources.gram_index import append_gram_index

    def _process(batch_df: DataFrame, batch_id: int) -> int:
        if batch_df.isEmpty():
            return 0
        appended = append_gram_index(
            batch_df.sparkSession, batch_df, index_path,
            id_col=id_col, text_col=text_col,
        )
        _bump_maint_stats(index_path, appended, 0)
        return appended

    return _process


def maintain_minhash_index(index_path: str, id_col: str = "doc_id", text_col: str = "text"):
    """``foreachBatch`` function for MinHash-index maintenance
    (sources/minhash_index.py): per micro-batch, novel docs (presence-set
    anti-join pruned to the batch's id buckets, intra-batch deduped)
    append their banded signature rows; already-indexed docs count as
    "skipped" — the at-least-once re-delivery volume."""
    from hnarchive_spark.sources.minhash_index import append_minhash_index

    def _process(batch_df: DataFrame, batch_id: int) -> int:
        n_in = batch_df.select(id_col).distinct().count()
        if n_in == 0:
            return 0
        appended = append_minhash_index(
            batch_df.sparkSession, batch_df, index_path,
            id_col=id_col, text_col=text_col,
        )
        _bump_maint_stats(index_path, appended, n_in - appended)
        return appended

    return _process


def _bump_gate_stats(index_path: str, flagged: int, max_e4: int) -> None:
    """Accumulate per-batch GATE counts into the same ``_MAINT_STATS``
    sidecar the append families use (gate-specific keys, so one ledger
    read surfaces both maintenance debt and leakage alerts).  Advisory
    like the append counts: an at-least-once re-delivered batch re-probes
    and bumps again — overstating, never understating, the alert volume
    (single writer per path, see :func:`_bump`)."""
    _bump(
        index_path, high={"gate_max_e4": max_e4}, gate_batches=1, gate_flagged=flagged
    )


def maintain_contamination_gate(
    index_path: str,
    threshold_e4: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """``foreachBatch`` function for the STREAMING contamination gate —
    the production placement of the persisted gate
    (sources/contamination_index.py): wired on the ingest stream BEFORE
    the store merge, every training micro-batch is probed O(batch)
    against the frozen eval index (broadcast Bloom prune, bucket-pruned
    semi-join) and eval docs whose contamination exceeds ``threshold_e4``
    are counted as ALERTS into the ``_MAINT_STATS`` ledger
    (``gate_batches`` / ``gate_flagged`` / ``gate_max_e4``).

    Unlike the append families this sink is READ-ONLY on the index —
    benchmark suites change rarely, so eval-side appends stay manual
    (``append_contamination_index``) — which makes restart idempotence
    trivial: a re-delivered batch re-probes and re-alerts (advisory
    double-count, the same contract as the append ledgers' "skipped"),
    and the index itself cannot be corrupted by any crash here.  Returns
    the number of flagged eval docs, so a caller composing
    gate-then-merge can block or quarantine the batch on a nonzero
    return — the decision stays with the pipeline, the gate supplies the
    evidence."""
    from pyspark.sql import functions as F

    from hnarchive_spark.sources.contamination_index import probe_contamination

    def _process(batch_df: DataFrame, batch_id: int) -> int:
        if batch_df.isEmpty():
            return 0
        spark = batch_df.sparkSession
        rep = probe_contamination(spark, batch_df, index_path, id_col, text_col)
        row = rep.agg(
            F.sum(
                F.when(F.col("contamination_e4") > threshold_e4, 1).otherwise(0)
            ).alias("flagged"),
            F.coalesce(F.max("contamination_e4"), F.lit(0)).alias("max_e4"),
        ).collect()[0]
        flagged = int(row["flagged"] or 0)
        _bump_gate_stats(index_path, flagged, int(row["max_e4"]))
        return flagged

    return _process


def maintain_quality_gate(
    ledger_path: str,
    threshold_e4: int,
    model: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    model_path: str | None = None,
):
    """``foreachBatch`` function for the STREAMING quality gate — the
    model-based filter's placement on the ingest cadence, completing the
    gate pair with :func:`maintain_contamination_gate`: every document
    micro-batch is scored by the broadcast weight table
    (operators/quality.py — one tokenize pass, O(batch)) and docs
    scoring BELOW ``threshold_e4`` count as rejections into the ledger
    (``quality_batches`` / ``quality_rejected`` / ``quality_scored``).

    ``model`` is the trained (bucket, w_e4) table; ``model_path`` instead
    reads the PUBLISHED version from the quality-model store
    (sources/quality_model_store.py) — resolved through the ``_CURRENT``
    pointer PER MICRO-BATCH, so a mid-stream republish swaps scoring
    atomically at the next batch boundary and no batch ever sees a torn
    table; with neither, the deterministic fixture model (= store v1
    semantics) is used.  Like the contamination gate this sink
    is READ-ONLY (nothing on disk to corrupt, restart trivially
    idempotent; re-delivery double-counts advisorily).  Returns the
    batch's rejection count so a gate-then-merge composition can route
    rejects to quarantine — the decision stays with the pipeline.

    Zero-token documents have no features and cannot be scored
    (operators/quality.py, the DSIR convention) — they are NOT silently
    passed (ADVICE r14): each batch's unscorable rows are counted into
    the ``quality_unscored`` ledger key, so a batch of degenerate docs
    surfaces as unscored volume even though it contributes zero
    rejections; a gate-then-quarantine caller that wants to reject them
    should route on ``quality_unscored`` as well as the return value."""
    from pyspark.sql import functions as F

    from hnarchive_spark.operators.quality import fixture_model, quality_scores

    def _process(batch_df: DataFrame, batch_id: int) -> int:
        if batch_df.isEmpty():
            return 0
        if model_path is not None:
            from hnarchive_spark.sources.quality_model_store import (
                read_quality_model,
            )

            m = read_quality_model(batch_df.sparkSession, model_path)
        elif model is not None:
            m = model
        else:
            m = fixture_model(batch_df.sparkSession)
        n_batch = batch_df.count()
        scored = quality_scores(batch_df, m, id_col=id_col, text_col=text_col)
        row = scored.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("quality_e4") < threshold_e4, 1).otherwise(0)
            ).alias("rejected"),
        ).collect()[0]
        rejected = int(row["rejected"] or 0)
        _bump(
            ledger_path,
            quality_batches=1,
            quality_scored=row["n"],
            quality_rejected=rejected,
            quality_unscored=max(0, int(n_batch) - int(row["n"])),
        )
        return rejected

    return _process


def maintain_scd2(store_path: str):
    """``foreachBatch`` function for SCD2 dimension maintenance
    (sources/scd2_store.py): each micro-batch of entity events absorbs
    into the persisted runs through the bucket-pruned append.  Restart
    idempotence comes from the store's frontier guard — every run row
    carries its final (ts, event_id), and a re-delivered batch's events
    all sit at-or-before their user's frontier, so the append applies 0
    events and skips the write job entirely.  The ledger's "skipped"
    slot counts dropped (late or re-delivered) events — persistent
    volume there means upstream is delivering out of order beyond the
    dimension's late-data policy, the signal to widen the watermark."""
    from hnarchive_spark.sources.scd2_store import append_scd2

    def _process(batch_df: DataFrame, batch_id: int) -> int:
        n_in = batch_df.count()
        if n_in == 0:
            return 0
        applied = append_scd2(batch_df.sparkSession, batch_df, store_path)
        _bump_maint_stats(store_path, applied, n_in - applied)
        return applied

    return _process


def stream_maintenance(stream: DataFrame, process, checkpoint_dir: str):
    """Run a ``foreachBatch`` function (``maintain_*`` here,
    ``ingest.maintain_ingest``) over ``stream`` until the input available
    at start is drained: ``availableNow`` trigger, checkpointed at
    ``checkpoint_dir``.  Returns the started StreamingQuery; the caller
    awaits termination, as with ``stream_merge_into_store``.  Whatever the
    function maintains (index, store, ledger) must already exist."""
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
