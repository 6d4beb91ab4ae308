"""Edge batches for the composed ingest verbs: an empty micro-batch
returns 0, bumps no ledger key and writes no file; a batch whose every
doc is a URL duplicate merges nothing and keeps the ledger's
conservation law."""

from __future__ import annotations

import os

from hnarchive_spark.streaming.index_maint import maintenance_stats
from hnarchive_spark.streaming.ingest import maintain_ingest, read_ingested_docs
from hnarchive_spark.streaming.ingest_vectors import maintain_vector_ingest

_FATES = (
    "ingest_url_dup",
    "ingest_unscored",
    "ingest_quality_rejected",
    "ingest_contaminated",
    "ingest_neardup",
    "ingest_merged",
    "ingest_skipped",
)


def _files(root: str) -> list[str]:
    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
    )


def test_empty_batch_writes_nothing(spark, tmp_path):
    store = str(tmp_path / "store")
    docs = spark.createDataFrame([], "doc_id long, text string")
    process = maintain_ingest(
        store,
        quality_threshold_e4=5_000,
        contamination_index_path=str(tmp_path / "ct"),
        minhash_index_path=str(tmp_path / "mh"),
    )
    assert process(docs, batch_id=0) == 0
    vecs = spark.createDataFrame([], "vec_id long, embedding array<double>")
    vprocess = maintain_vector_ingest(
        str(tmp_path / "vs"),
        ivfpq_path=str(tmp_path / "pq"),
        n_sub=4,
        semdedup_index_path=str(tmp_path / "sd"),
        t_e6=900_000,
    )
    assert vprocess(vecs, batch_id=0) == 0
    assert os.listdir(tmp_path) == []


def test_url_duplicate_batch_merges_nothing(spark, tmp_path):
    store = str(tmp_path / "store")
    schema = "doc_id long, text string, url string"
    process = maintain_ingest(store, url_col="url")
    seed = spark.createDataFrame(
        [(1, "seed page", "https://example.com/a"),
         (2, "other page", "https://example.com/b")],
        schema,
    )
    assert process(seed, batch_id=0) == 2
    ledger, files = maintenance_stats(store), _files(store)

    # an empty batch against a live store: same ledger, same files
    assert process(spark.createDataFrame([], schema), batch_id=1) == 0
    assert maintenance_stats(store) == ledger
    assert _files(store) == files

    # every doc a URL duplicate, of the store or of the batch itself
    dups = spark.createDataFrame(
        [(10, "refetch", "HTTP://WWW.EXAMPLE.COM/a/?utm_source=x"),
         (11, "refetch", "https://example.com/b#top"),
         (12, "refetch", "https://example.com:443/b")],
        schema,
    )
    assert process(dups, batch_id=2) == 0
    st = maintenance_stats(store)
    assert st["ingest_rows"] == 2 + 3
    assert st["ingest_url_dup"] == 3
    assert st["ingest_merged"] == 2
    assert st["ingest_rows"] == sum(st.get(k, 0) for k in _FATES)
    assert {r["doc_id"] for r in read_ingested_docs(spark, store).collect()} == {1, 2}
