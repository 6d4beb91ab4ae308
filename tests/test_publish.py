"""The one publish primitive (sources/index_version.py): a crash-point
matrix over every kind of commit, the one-rename items-store commit, and
a gate that keeps every other module from renaming files itself."""

from __future__ import annotations

import os
import re
import shutil

import pytest

from pyspark.sql import functions as F

from hnarchive_spark.plans import fixtures as FX
from hnarchive_spark.sources.index_version import (
    current_index_version,
    prune_index_versions,
)
from hnarchive_spark.sources.items_store import ItemsStore
from hnarchive_spark.sources.vec_store import (
    append_vec_store,
    build_vec_store,
    compact_vec_store,
    read_vec_store,
)

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "hnarchive_spark")

BASE_IDS = list(range(1, 36))  # two commits: 1-30, then 31-35
KEEP = 1


class Crash(RuntimeError):
    pass


def _rows(ids, score=0):
    return [dict(FX.MERGE_BASE[0], id=int(i), score=score) for i in ids]


def _merge(store, ids, score=0):
    store.merge_batch(FX.items_df_with_seq(store.spark, _rows(ids, score)), seq_col="seq")


def _ids(store) -> list[int]:
    return sorted(r[0] for r in store.read().select("id").collect())


def _scan_max(store) -> int:
    return store.read().agg(F.max("id")).collect()[0][0] or 0


def _trap_replace(monkeypatch, point: str | None) -> list[str]:
    """Route ``os.replace`` through a recorder that raises ``Crash`` at the
    pointer rename: before it (``"before"``), or once it has landed but
    before anything after it runs (``"after"``).  Returns the recorded
    destinations."""
    real = os.replace
    calls: list[str] = []

    def replace(src, dst):
        calls.append(str(dst))
        pointer = str(dst).endswith("_CURRENT")
        if point == "before" and pointer:
            raise Crash("killed before the pointer rename")
        real(src, dst)
        if point == "after" and pointer:
            raise Crash("killed after the pointer rename, before retain")

    monkeypatch.setattr(os, "replace", replace)
    return calls


# commit kind -> (op, ids after it, bucket_size after it)
ITEM_OPS = {
    "merge": (lambda s: _merge(s, [5, 36], score=9), BASE_IDS + [36], 10),
    "empty_merge": (lambda s: _merge(s, []), BASE_IDS, 10),
    "delete": (lambda s: s.delete_ids([7, 35]), [i for i in BASE_IDS if i not in (7, 35)], 10),
    "compact": (lambda s: s.compact(100), BASE_IDS, 100),
}


@pytest.fixture(scope="module")
def base_store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("publish") / "store")
    store = ItemsStore(spark, path, keep_versions=KEEP, bucket_size=10)
    _merge(store, BASE_IDS[:30])
    _merge(store, BASE_IDS[30:])
    return path


@pytest.fixture(scope="module")
def base_vec_store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("publish") / "vs")
    vecs = spark.createDataFrame(
        [(i, [float(i), -float(i)]) for i in range(20)], "vec_id long, embedding array<double>"
    )
    build_vec_store(spark, vecs, path, n_buckets=4)
    return path


@pytest.mark.parametrize("point", ["before", "after"])
@pytest.mark.parametrize("kind", [*ITEM_OPS, "vec_store_append"])
def test_crash_point_matrix(spark, tmp_path, monkeypatch, base_store, base_vec_store, kind, point):
    if kind == "vec_store_append":
        return _vec_store_case(spark, tmp_path, monkeypatch, base_vec_store, point)
    op, new_ids, new_bucket_size = ITEM_OPS[kind]
    path = str(tmp_path / "store")
    shutil.copytree(base_store, path)
    store = ItemsStore(spark, path, keep_versions=KEEP)
    v0 = store._current_version()

    calls = _trap_replace(monkeypatch, point)
    with pytest.raises(Crash):
        op(store)
    monkeypatch.undo()
    assert calls == [os.path.join(path, "_CURRENT")]  # a commit is one rename

    # a fresh reader sees the old version or the new one, in full
    reader = ItemsStore(spark, path, keep_versions=KEEP, bucket_size=7)
    published = point == "after"
    assert reader._current_version() == (v0 + 1 if published else v0)
    assert _ids(reader) == (new_ids if published else BASE_IDS)
    assert reader.bucket_size == (new_bucket_size if published else 10)
    assert reader.latest_id() == _scan_max(reader)

    # the next commit succeeds, by one rename, and retention leaves no orphan
    calls = _trap_replace(monkeypatch, None)
    _merge(reader, [5, 40], score=1)
    monkeypatch.undo()
    assert calls == [os.path.join(path, "_CURRENT")]
    want = sorted(set(new_ids if published else BASE_IDS) | {5, 40})
    assert _ids(reader) == want
    assert reader.latest_id() == _scan_max(reader) == 40
    cur = reader._current_version()
    assert cur == (v0 + 2 if published else v0 + 1)
    assert reader.versions() == list(range(cur - KEEP, cur + 1))


def _vec_store_case(spark, tmp_path, monkeypatch, base, point):
    """An append lands in the live version in place (Spark's job commit);
    the vec store's publish is the compaction that follows it."""
    path = str(tmp_path / "vs")
    shutil.copytree(base, path)
    batch = spark.createDataFrame(
        [(i, [float(i), -float(i)]) for i in range(15, 25)], "vec_id long, embedding array<double>"
    )
    assert append_vec_store(spark, batch, path) == 5
    v0 = current_index_version(path)

    _trap_replace(monkeypatch, point)
    with pytest.raises(Crash):
        compact_vec_store(spark, path)
    monkeypatch.undo()

    published = point == "after"
    assert current_index_version(path) == (v0 + 1 if published else v0)
    got = sorted(r[0] for r in read_vec_store(spark, path).select("vec_id").collect())
    assert got == list(range(25))

    compact_vec_store(spark, path)
    cur = current_index_version(path)
    assert cur == (v0 + 2 if published else v0 + 1)
    versions = sorted(int(n[1:]) for n in os.listdir(path) if re.fullmatch(r"v\d+", n))
    assert versions[-1] == cur  # no unpublished dir left behind
    prune_index_versions(path)
    assert [n for n in os.listdir(path) if re.fullmatch(r"v\d+", n)] == [f"v{cur}"]


# Every rename in the package goes through index_version.py, except these
# two, which are not publishes of a JSON record or version pointer.
RENAME_EXEMPTIONS = {
    ("plans/release.py", "os.rename(staged, vdir)"):
        "claims a release version number by renaming a staged dir: an "
        "exclusive-allocation protocol between concurrent runs",
    ("sources/export.py", "os.replace(tmp_path, db_path)"):
        "swaps a finished SQLite export file into place",
}


def test_only_index_version_renames():
    found = set()
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            full = os.path.join(root, name)
            rel = os.path.relpath(full, PKG).replace(os.sep, "/")
            if rel == "sources/index_version.py":
                continue
            with open(full) as fh:
                for n, line in enumerate(fh, 1):
                    if re.search(r"\bos\.(replace|rename)\s*\(", line):
                        key = (rel, line.strip())
                        assert key in RENAME_EXEMPTIONS, f"{rel}:{n}: {line.strip()}"
                        found.add(key)
    assert found == set(RENAME_EXEMPTIONS)
