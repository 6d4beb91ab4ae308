"""The items store's commit record carries the snapshot's max id:
``latest_id`` reads it instead of scanning, so it must equal a full-scan
``max(id)`` after every kind of commit, be adopted by stores whose
record has none, and never leak from an unpublished version."""

from __future__ import annotations

import os
import random

import pytest

from pyspark.sql import functions as F

from hnarchive_spark.plans import fixtures as FX
from hnarchive_spark.sources.hn_api import MockTransport
from hnarchive_spark.sources.index_version import read_index_record
from hnarchive_spark.sources.items_store import ItemsStore
from hnarchive_spark.streaming.livestream import update_items

T0 = FX.T0


def _rows(ids, score=0):
    return [dict(FX.MERGE_BASE[0], id=int(i), score=score) for i in ids]


def _merge(store, rows):
    store.merge_batch(FX.items_df_with_seq(store.spark, rows), seq_col="seq")


def _scan_max(store) -> int:
    return store.read().agg(F.max("id")).collect()[0][0] or 0


def _record(store):
    return read_index_record(store.path).get("max_id")


def _drop_record(store):
    """Rewrite the pointer as an older store wrote it: a bare int."""
    v = store._current_version()
    with open(os.path.join(store.path, "_CURRENT"), "w") as fh:
        fh.write(str(v))


def _assert_record_matches(store):
    want = _scan_max(store)
    assert _record(store) == want  # written, not left to the fallback scan
    assert store.latest_id() == want


def _ids(store) -> list[int]:
    return sorted(r[0] for r in store.read().select("id").collect())


def test_latest_id_matches_full_scan_after_random_commits(spark, tmp_path):
    rng = random.Random(7)
    store = ItemsStore(spark, str(tmp_path / "store"), bucket_size=10)
    _merge(store, _rows(range(1, 26)))
    _assert_record_matches(store)
    transport = MockTransport(
        items={i: {"id": i, "type": "story", "time": T0 + i} for i in range(1, 200)},
        max_id=199,
    )
    # every op kind, in a seeded order; the max is deleted twice: once with
    # its whole bucket, once alone
    kinds = ["new", "old", "empty", "recrawl", "delete_max", "delete", "compact", "new",
             "delete_max"]
    rng.shuffle(kinds)
    whole_bucket = True
    for step, kind in enumerate(kinds):
        top = store.latest_id()
        have = _ids(store)
        if kind == "new":
            # new ids past the head, a few of them twice in the batch
            fresh = list(range(top + 1, top + 1 + rng.randint(1, 15)))
            _merge(store, _rows(fresh + rng.sample(fresh, min(3, len(fresh))), step))
        elif kind == "old" and have:
            _merge(store, _rows(rng.sample(have, min(5, len(have))), step))
        elif kind == "empty":
            _merge(store, [])
        elif kind == "recrawl":
            update_items(store, transport, days=10_000, now=T0 + 5000 + step)
        elif kind == "delete_max" and have:
            bucket = top // store.bucket_size
            whole = [i for i in have if i // store.bucket_size == bucket]
            store.delete_ids(whole if whole_bucket else [top])
            whole_bucket = not whole_bucket
        elif kind == "delete" and have:
            store.delete_ids(rng.sample(have, min(4, len(have))) + [10_000])
        elif kind == "compact":
            store.compact(rng.choice([5, 10, 20]))
        _assert_record_matches(store)


def test_store_without_records_reads_and_adopts(spark, tmp_path):
    """A store whose pointer carries no max id (written before records
    existed: a bare-int pointer) is scanned, and its next commit, empty or
    not, records one."""
    store = ItemsStore(spark, str(tmp_path / "store"), bucket_size=10)
    _merge(store, _rows([3, 14, 27]))
    _drop_record(store)
    assert _record(store) is None
    assert store.latest_id() == 27  # fallback scan

    _merge(store, [])  # zero-row commit adopts the record
    assert _record(store) == 27
    _drop_record(store)
    _merge(store, _rows([5]))  # a merge under the old max adopts it too
    assert _record(store) == 27 and store.latest_id() == 27
    _drop_record(store)
    store.delete_ids([27])  # and so does a delete of the max
    _assert_record_matches(store)
    assert store.latest_id() == 14


def test_unpublished_record_is_never_read(spark, tmp_path, monkeypatch):
    """A crash between the version write and the pointer swap leaves a
    version dir nobody may read, and the record still names the old max;
    the next commit, including a zero-row one, replaces that dir instead
    of building on it."""
    import hnarchive_spark.sources.items_store as items_store

    store = ItemsStore(spark, str(tmp_path / "store"), bucket_size=10)
    _merge(store, _rows(range(1, 8)))
    v = store._current_version()

    def crash(path, version, meta=None):
        raise RuntimeError("killed before the swap")

    monkeypatch.setattr(items_store, "publish_index_version", crash)
    with pytest.raises(RuntimeError):
        _merge(store, _rows([40, 41]))
    monkeypatch.undo()
    assert os.path.isdir(store._version_dir(v + 1))  # written, but not published
    assert store._current_version() == v and store.latest_id() == 7
    assert _record(store) == 7

    _merge(store, [])  # lands in the crashed commit's dir
    assert store._current_version() == v + 1
    assert _ids(store) == list(range(1, 8))
    _assert_record_matches(store)
