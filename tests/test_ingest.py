"""End-to-end ingestion tests with the mock transport (SURVEY §5.2/§5.4):
range fetch -> normalize -> merge -> store; update fixpoint; livestream
skip-ahead; update_items staleness re-crawl."""

from __future__ import annotations

import pytest

from hnarchive_spark.sources.hn_api import MockTransport, fetch_items
from hnarchive_spark.sources.items_store import ItemsStore
from hnarchive_spark.streaming.livestream import (
    SkipPolicy,
    livestream_batches,
    update,
    update_items,
)

T0 = 1_700_000_000


def wire(id, type="story", **kw):
    d = {"id": id, "type": type, "time": T0 + id}
    d.update(kw)
    return d


@pytest.fixture
def store(spark, tmp_path):
    return ItemsStore(spark, str(tmp_path / "items_store"))


def test_fetch_normalizes_and_drops_tombstones(spark):
    t = MockTransport(
        items={
            1: wire(1, by="alice", score=10),
            2: wire(2, "comment", by="bob", parent=1, text="hi", deleted=True),
            3: {"id": 3, "type": "story"},  # tombstone: no time (dropped)
            4: None,  # API null (dropped)
        },
        max_id=5,
    )
    df = fetch_items(spark, 1, 5, t, parallelism=2, retrieved_at=T0 + 100)
    rows = {r["id"]: r.asDict() for r in df.collect()}
    assert set(rows) == {1, 2}  # 3 tombstone, 4 null, 5 absent
    assert rows[1]["author"] == "alice"  # by -> author rename
    assert rows[2]["deleted"] is True and rows[2]["dead"] is False
    assert rows[1]["retrieved"] == T0 + 100
    assert rows[1]["age_at_retrieval"] == (T0 + 100) - (T0 + 1)


def test_fetch_retries_flaky_ids(spark):
    t = MockTransport(items={1: wire(1)}, max_id=1, flaky={1: 3})
    df = fetch_items(spark, 1, 1, t, parallelism=1, retrieved_at=T0, sleep_cap=0.01)
    assert df.count() == 1  # succeeded after 3 retryable failures


def test_fetch_fails_fast_on_non_retryable_http_error(spark):
    """A 4xx other than 429 must raise immediately — no retry storm
    (hnarchive.py:112 fail-fast classification)."""

    class _Resp:
        status_code = 404

    class _NotFound(Exception):
        response = _Resp()

    class _FatalTransport(MockTransport):
        def get_item(self, item_id):
            self.calls.append(item_id)
            raise _NotFound("HTTP 404")

    t = _FatalTransport(items={}, max_id=40)
    # one request at a time, and several threads in each of several tasks
    for parallelism in (1, 4 * spark.sparkContext.defaultParallelism):
        with pytest.raises(Exception, match="404"):
            fetch_items(spark, 1, 40, t, parallelism, retrieved_at=T0, sleep_cap=0.01).count()


def test_update_reaches_fixpoint_and_is_restartable(store):
    t = MockTransport(items={i: wire(i) for i in range(1, 6)}, max_id=5)
    rounds = update(store, t, parallelism=2, retrieved_at=T0 + 10)
    assert rounds == 1
    assert store.latest_id() == 5
    assert store.count() == 5
    # new items arrive; restart recovers offset from the table itself
    t.items.update({6: wire(6), 7: wire(7)})
    t.max_id = 7
    update(store, t, parallelism=2, retrieved_at=T0 + 20)
    assert store.latest_id() == 7 and store.count() == 7
    # no new items -> zero rounds (fixpoint, hnarchive.py:530-531)
    assert update(store, t, retrieved_at=T0 + 30) == 0


def test_merge_keeps_deleted_item_data(store):
    """U2: an item that later returns API-null keeps its old row
    (README.md:18)."""
    t = MockTransport(items={1: wire(1, by="alice", score=5)}, max_id=1)
    update(store, t, retrieved_at=T0)
    t.items[1] = None  # item deleted upstream
    t.items[2] = wire(2)
    t.max_id = 2
    update(store, t, retrieved_at=T0 + 50)
    rows = {r["id"]: r.asDict() for r in store.read().collect()}
    assert rows[1]["author"] == "alice" and rows[1]["score"] == 5
    assert 2 in rows


def test_livestream_skip_ahead_policy(store):
    """S7 (hnarchive.py:165-189): a dead id is skipped only after >=5 misses
    AND head >50 ahead; an id that materializes within the margin is not."""
    items = {i: wire(i) for i in range(1, 4)}
    t = MockTransport(items=items, max_id=3)
    policy = SkipPolicy()
    gen = livestream_batches(store, t, policy=policy, max_polls=20, retrieved_at=T0)

    next(gen)  # poll 0: 1-3 merged
    assert store.latest_id() == 3

    # id 4 missing; head crawls forward but stays within the 50-id margin
    t.items.update({5: wire(5)})
    t.max_id = 5
    for _ in range(6):
        next(gen)
    assert 4 in policy.pending()  # missed >5 times but head too close

    # id 4 materializes late -> ingested, not skipped (the :171-177 race)
    t.items[4] = wire(4)
    _, merged, skipped = next(gen)
    assert 4 not in policy.pending() and not skipped
    ids = {r["id"] for r in store.read().collect()}
    assert 4 in ids

    # id 6 never appears and the head jumps far ahead -> permanent skip
    # (needs >=5 misses for id 6 while head stays >50 ahead)
    t.items.update({i: wire(i) for i in range(7, 60)})
    t.max_id = 59
    skipped_all = []
    for _ in range(6):
        _, _, skipped = next(gen)
        skipped_all += skipped
    assert 6 in skipped_all
    assert 6 not in policy.pending()


def test_update_items_stale_recrawl(store):
    """E4: only rows with age_at_retrieval <= days*86400 are re-fetched;
    update_items refreshes their volatile fields."""
    t = MockTransport(
        items={1: wire(1, score=1), 2: wire(2, score=2)}, max_id=2
    )
    update(store, t, retrieved_at=T0 + 10)
    # make item 1 "fresh at crawl" (young age) and item 2 old: ages are
    # retrieved - time = (T0+10) - (T0+id) -> both ~ 10s; re-crawl window of
    # 1 day covers both. Upstream scores have changed:
    t.items[1]["score"] = 100
    t.items[2]["score"] = 200
    update_items(store, t, days=1, now=T0 + 20)
    rows = {r["id"]: r.asDict() for r in store.read().collect()}
    assert rows[1]["score"] == 100 and rows[2]["score"] == 200
    # only_mature with a cutoff excluding everything -> no changes
    t.items[1]["score"] = 999
    update_items(store, t, days=1, only_mature=True, now=T0 + 30)
    rows = {r["id"]: r.asDict() for r in store.read().collect()}
    assert rows[1]["score"] == 100  # not re-crawled (not mature)
