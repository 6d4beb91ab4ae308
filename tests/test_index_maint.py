"""Streaming index maintenance (streaming/index_maint.py): micro-batch
appends must be restart-idempotent (on_conflict="skip" drops re-delivered
ids via a partition-pruned anti-join), must self-heal a torn text append
(journal recovery before the batch), and the maintained index must end up
row-identical to a fresh full build — the shared-oracle contract extended
to the streaming ingest path."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hnarchive_spark.plans.search import BM25_TERMS, BM25_TOPK
from hnarchive_spark.sources.text_index import (
    append_text_index,
    bm25_topk,
    build_text_index,
)
from hnarchive_spark.streaming.index_maint import (
    maintain_ivfpq_index,
    maintain_text_index,
    stream_maintenance,
)
from hnarchive_spark.tables import load

import pytest

# Multi-minute index maintenance scheduler integration sweeps (10-43 s per test): excluded
# from the DRIVER-SIZED default run, executed round-closing via
# `-m exhaustive` (pytest.ini; VERDICT r18 #1 suite-budget split).
pytestmark = pytest.mark.exhaustive


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


def _bm25_rows(spark, path):
    return sorted(
        tuple(r) for r in bm25_topk(spark, path, list(BM25_TERMS), BM25_TOPK).collect()
    )


def test_text_skip_append_filters_redelivered_ids(spark, tmp_path):
    """A batch mixing new docs with already-indexed ones appends ONLY the
    new docs under on_conflict='skip' — and the result is row-identical
    to a full build (stats exact despite the filtered batch)."""
    d = load(spark, SF, "documents")
    full_path = str(tmp_path / "full")
    build_text_index(d, full_path)
    want = _bm25_rows(spark, full_path)

    path = str(tmp_path / "inc")
    build_text_index(d.filter(F.col("doc_id") % 2 == 0), path)
    before = _files(f"{path}/postings")
    n_odd = d.filter(F.col("doc_id") % 2 == 1).count()
    # re-deliver the WHOLE corpus (evens already indexed) — the streaming
    # at-least-once worst case
    appended = append_text_index(spark, d, path, on_conflict="skip")
    assert appended == n_odd
    for rel, meta in before.items():
        assert _files(f"{path}/postings").get(rel) == meta
    assert _bm25_rows(spark, path) == want

    # exact re-delivery of an already-applied batch: pure no-op
    all_files = _files(path)
    from hnarchive_spark.sources.text_index import _read_stats

    stats = _read_stats(path)
    assert append_text_index(spark, d, path, on_conflict="skip") == 0
    assert _files(path) == all_files
    assert _read_stats(path) == stats


def test_maintain_text_self_heals_torn_append(spark, tmp_path, monkeypatch):
    """foreachBatch re-delivery after a crash in the postings→stats gap:
    the maintenance function must recover the torn index FIRST, then skip
    the re-delivered (already-landed) rows — ending row-identical to a
    full build with no operator intervention."""
    import pytest

    from hnarchive_spark.sources import text_index as TI

    d = load(spark, SF, "documents")
    full_path = str(tmp_path / "full")
    build_text_index(d, full_path)
    want = _bm25_rows(spark, full_path)

    path = str(tmp_path / "crash")
    build_text_index(d.filter(F.col("doc_id") % 2 == 0), path)
    odd = d.filter(F.col("doc_id") % 2 == 1)

    real_write = TI._write_stats
    monkeypatch.setattr(
        TI, "_write_stats", lambda *a: (_ for _ in ()).throw(RuntimeError("crash"))
    )
    process = maintain_text_index(path)
    with pytest.raises(RuntimeError, match="crash"):
        process(odd, batch_id=7)
    monkeypatch.setattr(TI, "_write_stats", real_write)
    assert TI.needs_recovery(path)

    # the restarted stream re-delivers batch 7; postings already landed,
    # so recovery rolls stats forward and the batch appends nothing
    assert process(odd, batch_id=7) == 0
    assert not TI.needs_recovery(path)
    assert _bm25_rows(spark, path) == want


def test_stream_text_maintenance_restart_idempotent(spark, tmp_path):
    """End-to-end Structured Streaming run: files stream into the index
    with availableNow; a second run from a FRESH checkpoint (the
    at-least-once extreme: every batch re-delivered) plus new files ends
    row-identical to a full build over the union."""
    d = load(spark, SF, "documents")
    src = str(tmp_path / "src")
    path = str(tmp_path / "idx")
    # seed index with an eighth of the corpus; stream the rest through
    build_text_index(d.filter(F.col("doc_id") % 8 == 0), path)
    d.filter(F.col("doc_id") % 8 == 1).write.mode("append").parquet(src)
    d.filter(F.col("doc_id") % 8 == 2).write.mode("append").parquet(src)

    stream = spark.readStream.schema(d.schema).parquet(src)
    q = stream_maintenance(stream, maintain_text_index(path), str(tmp_path / "ckpt1"))
    q.awaitTermination()

    # new files arrive; the fresh checkpoint forces re-delivery of ALL files
    for m in range(3, 8):
        d.filter(F.col("doc_id") % 8 == m).write.mode("append").parquet(src)
    q = stream_maintenance(stream, maintain_text_index(path), str(tmp_path / "ckpt2"))
    q.awaitTermination()

    full_path = str(tmp_path / "full")
    build_text_index(d, full_path)
    assert _bm25_rows(spark, path) == _bm25_rows(spark, full_path)


def test_ivfpq_maintenance_skip_idempotent(spark, tmp_path):
    """IVF-PQ micro-batch maintenance: re-delivered vectors are skipped
    (codes appended exactly once per vec_id), pre-existing files stay
    byte-untouched, and a re-delivered batch is a no-op."""
    from hnarchive_spark.sources.ann_index import build_ivfpq_index

    e = load(spark, SF, "embeddings")
    path = str(tmp_path / "ivfpq")
    n_sub = 4
    build_ivfpq_index(e.filter(F.col("vec_id") % 2 == 0), path, n_sub, 8, 2)
    before = _files(f"{path}/codes")

    process = maintain_ivfpq_index(path, n_sub)
    n_odd = e.filter(F.col("vec_id") % 2 == 1).count()
    # whole corpus re-delivered: only the odd half is new
    assert process(e, batch_id=0) == n_odd
    after = _files(f"{path}/codes")
    for rel, meta in before.items():
        assert after.get(rel) == meta, f"pre-existing file changed: {rel}"

    # exact re-delivery: nothing appended, nothing touched
    assert process(e, batch_id=0) == 0
    assert _files(f"{path}/codes") == after

    codes = spark.read.parquet(f"{path}/codes")
    assert codes.count() == e.count()
    assert codes.select("vec_id").distinct().count() == e.count()


def test_ivf_and_lsh_maintenance_skip_idempotent(spark, tmp_path):
    """The two remaining families ride the same micro-batch contract:
    whole-corpus re-delivery appends only the genuinely-new half, exact
    re-delivery is a no-op, pre-existing files stay byte-untouched."""
    from hnarchive_spark.sources.ann_index import build_index, build_ivf_index
    from hnarchive_spark.streaming.index_maint import (
        maintain_ivf_index,
        maintain_lsh_index,
    )

    e = load(spark, SF, "embeddings")
    n_odd = e.filter(F.col("vec_id") % 2 == 1).count()

    ivf_path = str(tmp_path / "ivf")
    build_ivf_index(e.filter(F.col("vec_id") % 2 == 0), ivf_path)
    lsh_path = str(tmp_path / "lsh")
    build_index(e.filter(F.col("vec_id") % 2 == 0), lsh_path)

    for path, data_sub, process in (
        (ivf_path, "lists", maintain_ivf_index(ivf_path)),
        (lsh_path, "", maintain_lsh_index(lsh_path)),
    ):
        data_dir = os.path.join(path, data_sub) if data_sub else path
        before = _files(data_dir)
        assert process(e, batch_id=0) == n_odd, path
        after = _files(data_dir)
        for rel, meta in before.items():
            assert after.get(rel) == meta, f"pre-existing file changed: {rel}"
        assert process(e, batch_id=0) == 0, path
        assert _files(data_dir) == after, path
        rows = spark.read.parquet(data_dir)
        assert rows.count() == e.count(), path
        assert rows.select("vec_id").distinct().count() == e.count(), path
        # the empty-tick guard: a 0-row micro-batch touches nothing
        assert process(e.filter("vec_id < 0"), batch_id=1) == 0, path
        assert _files(data_dir) == after, path


def test_maintenance_ledger_accumulates_and_schedules(spark, tmp_path):
    """foreachBatch discards the maintenance return values, so the
    appended/skipped counts must land in the _MAINT_STATS.json ledger —
    the observable input the rebuild/compaction scheduling decision
    (needs_maintenance) runs on."""
    from hnarchive_spark.sources.ann_index import build_ivfpq_index
    from hnarchive_spark.streaming.index_maint import (
        maintenance_stats,
        needs_maintenance,
    )

    e = load(spark, SF, "embeddings")
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(e.filter(F.col("vec_id") % 2 == 0), path, 4, 8, 2)
    assert maintenance_stats(path) == {"appended": 0, "skipped": 0, "batches": 0}

    process = maintain_ivfpq_index(path, 4)
    n_odd = e.filter(F.col("vec_id") % 2 == 1).count()
    n_all = e.count()
    process(e, batch_id=0)   # whole corpus: odd appended, even skipped
    process(e, batch_id=0)   # full re-delivery: everything skipped
    got = maintenance_stats(path)
    assert got == {
        "appended": n_odd,
        "skipped": (n_all - n_odd) + n_all,
        "batches": 2,
    }
    # an empty tick records nothing
    process(e.filter("vec_id < 0"), batch_id=1)
    assert maintenance_stats(path)["batches"] == 2

    assert not needs_maintenance(path)  # budgets of 0 disable both dims
    assert needs_maintenance(path, max_skipped=n_all)
    assert needs_maintenance(path, max_batches=2)
    assert not needs_maintenance(path, max_batches=3)

    # the operator move after scheduling the rebuild: reset, start fresh
    assert maintenance_stats(path, reset=True)["batches"] == 2
    assert maintenance_stats(path) == {"appended": 0, "skipped": 0, "batches": 0}


def test_gram_maintenance_is_set_semantic(spark, tmp_path):
    """The gram family's micro-batch contract is the simplest of the
    five: set semantics make re-delivery a structural no-op (no
    on_conflict rail needed), pre-existing files stay byte-untouched,
    and the ledger accumulates novel-gram counts for the compaction
    schedule."""
    from hnarchive_spark.sources.gram_index import build_gram_index, gram_index_stats
    from hnarchive_spark.streaming.index_maint import (
        maintain_gram_index,
        maintenance_stats,
    )

    d = load(spark, SF, "documents")
    path = str(tmp_path / "grams")
    build_gram_index(spark, d.filter(F.col("doc_id") % 2 == 0), path)

    process = maintain_gram_index(path)
    before = _files(path)
    n1 = process(d, batch_id=0)  # whole-corpus re-delivery: odd half is new
    assert n1 > 0
    after = _files(path)
    for rel, meta in before.items():
        assert after.get(rel) == meta, f"pre-existing file changed: {rel}"
    assert process(d, batch_id=0) == 0  # exact re-delivery: no-op
    assert _files(path) == after
    # empty tick touches nothing
    assert process(d.filter("doc_id < 0"), batch_id=1) == 0
    assert _files(path) == after
    st = gram_index_stats(spark, path)
    assert st["rows"] == st["grams"]
    led = maintenance_stats(path)
    assert led["appended"] == n1 and led["batches"] >= 1

def test_contamination_gate_flags_and_ledgers(spark, tmp_path):
    """The streaming contamination gate: a CLEAN training batch probes 0
    flagged eval docs; a batch containing eval text verbatim flags them
    and the alert lands in the _MAINT_STATS ledger; a re-delivered batch
    re-probes without error (read-only on the index — advisory
    double-count, like the append ledgers' skipped)."""
    from hnarchive_spark.sources.contamination_index import (
        build_contamination_index,
    )
    from hnarchive_spark.streaming.index_maint import (
        maintain_contamination_gate,
        maintenance_stats,
    )

    d = load(spark, SF, "documents")
    ev = d.filter(F.col("doc_id") % 10 == 0)
    path = str(tmp_path / "gate")
    n_ev = build_contamination_index(spark, ev, path)
    assert n_ev > 0

    process = maintain_contamination_gate(path, threshold_e4=5_000)
    # clean batch: synthetic text sharing no shingles with the corpus
    # (the fixture documents contain near-duplicates by design, so a
    # "different docs" slice is NOT reliably clean — which is the point
    # of the gate, but not of this assertion)
    clean = spark.createDataFrame(
        [(i, f"zz{i} qq{i} ww{i} ee{i} rr{i} tt{i}") for i in range(20)],
        "doc_id long, text string",
    )
    assert process(clean, batch_id=0) == 0
    st = maintenance_stats(path)
    assert st["gate_batches"] == 1 and st["gate_flagged"] == 0

    # contaminated batch: eval docs re-delivered as training data verbatim
    leak = ev.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    flagged = process(leak, batch_id=1)
    assert flagged == n_ev  # every eval doc fully contaminated
    st = maintenance_stats(path)
    assert st["gate_batches"] == 2 and st["gate_flagged"] == n_ev
    assert st["gate_max_e4"] == 10_000

    # at-least-once re-delivery: same alert again, no crash, no index write
    assert process(leak, batch_id=1) == n_ev
    assert maintenance_stats(path)["gate_flagged"] == 2 * n_ev

    # empty tick records nothing
    process(d.filter("doc_id < 0"), batch_id=2)
    assert maintenance_stats(path)["gate_batches"] == 3


def test_stream_contamination_gate_end_to_end(spark, tmp_path):
    """Structured Streaming run of the gate with availableNow: files
    stream through foreachBatch, alerts accumulate in the ledger, and a
    restart from a fresh checkpoint (full re-delivery) only re-alerts."""
    from hnarchive_spark.sources.contamination_index import (
        build_contamination_index,
    )
    from hnarchive_spark.streaming.index_maint import (
        maintain_contamination_gate,
        maintenance_stats,
    )

    d = load(spark, SF, "documents")
    ev = d.filter(F.col("doc_id") % 10 == 0)
    path = str(tmp_path / "gate")
    n_ev = build_contamination_index(spark, ev, path)

    src = str(tmp_path / "src")
    ev.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text").write.mode(
        "append"
    ).parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = stream_maintenance(
        stream, maintain_contamination_gate(path, 5_000), str(tmp_path / "ckpt1")
    )
    q.awaitTermination()
    st = maintenance_stats(path)
    assert st["gate_flagged"] == n_ev and st["gate_max_e4"] == 10_000

    # fresh checkpoint = the at-least-once extreme: everything re-probed
    q = stream_maintenance(
        stream, maintain_contamination_gate(path, 5_000), str(tmp_path / "ckpt2")
    )
    q.awaitTermination()
    assert maintenance_stats(path)["gate_flagged"] == 2 * n_ev


def test_quality_gate_scores_and_ledgers(spark, tmp_path):
    """The streaming quality gate: per-batch broadcast scoring against
    the (fixture) weight table, below-threshold docs counted into the
    ledger's quality_* keys; re-delivery is an advisory re-count; the
    count must equal the registered scorer's own below-threshold count
    over the same rows (shared operator)."""
    from hnarchive_spark.operators.quality import fixture_model, quality_scores
    from hnarchive_spark.streaming.index_maint import (
        maintain_quality_gate,
        maintenance_stats,
    )

    d = load(spark, SF, "documents")
    thr = 10_000
    want_rejected = (
        quality_scores(d, fixture_model(spark))
        .filter(F.col("quality_e4") < thr)
        .count()
    )
    assert 0 < want_rejected < d.count()

    path = str(tmp_path / "qgate")
    process = maintain_quality_gate(path, thr)
    assert process(d, batch_id=0) == want_rejected
    st = maintenance_stats(path)
    assert st["quality_batches"] == 1 and st["quality_rejected"] == want_rejected
    assert st["quality_scored"] == d.count()

    # re-delivery: same count again, advisory double-count, no crash
    assert process(d, batch_id=0) == want_rejected
    assert maintenance_stats(path)["quality_rejected"] == 2 * want_rejected
    # empty tick records nothing
    process(d.filter("doc_id < 0"), batch_id=1)
    assert maintenance_stats(path)["quality_batches"] == 2


def test_quality_gate_counts_unscorable_docs(spark, tmp_path):
    """ADVICE r14: zero-token documents can't be scored (no features) but
    must not vanish — the gate counts them into quality_unscored so a
    degenerate batch surfaces as unscored volume, not a silent pass."""
    from hnarchive_spark.streaming.index_maint import (
        maintain_quality_gate,
        maintenance_stats,
    )

    batch = spark.createDataFrame(
        [(1, "a real document with tokens"), (2, ""), (3, "   "), (4, "x")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "qgate_z")
    process = maintain_quality_gate(path, 10_000)
    process(batch, batch_id=0)
    st = maintenance_stats(path)
    assert st["quality_scored"] == 2  # docs 1 and 4
    assert st["quality_unscored"] == 2  # docs 2 and 3


def test_quality_scores_sparse_model_left_join(spark):
    """ADVICE r14: under a user-supplied SPARSE weight table, n_tokens is
    the doc's TRUE token count (not the matched-token count), unmatched
    buckets score 0, and a doc whose tokens all miss still gets a row."""
    from hnarchive_spark.operators.quality import quality_scores

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    # empty model: every token misses every bucket
    empty_model = spark.createDataFrame([], "bucket long, w_e4 long")
    rows = quality_scores(docs, empty_model).collect()
    assert len(rows) == 1
    assert rows[0]["n_tokens"] == 4 and rows[0]["quality_e4"] == 0


def test_stream_quality_gate_end_to_end(spark, tmp_path):
    """Structured Streaming run of the quality gate with availableNow."""
    from hnarchive_spark.operators.quality import fixture_model, quality_scores
    from hnarchive_spark.streaming.index_maint import (
        maintain_quality_gate,
        maintenance_stats,
    )

    d = load(spark, SF, "documents").select("doc_id", "text")
    thr = 10_000
    want = (
        quality_scores(d, fixture_model(spark))
        .filter(F.col("quality_e4") < thr)
        .count()
    )
    src = str(tmp_path / "src")
    d.write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    path = str(tmp_path / "qgate")
    q = stream_maintenance(stream, maintain_quality_gate(path, thr), str(tmp_path / "ckpt"))
    q.awaitTermination()
    st = maintenance_stats(path)
    assert st["quality_rejected"] == want and st["quality_batches"] == 1
