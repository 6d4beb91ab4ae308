"""Incremental ingestion: the reference's `update` and `livestream` entry
points (SURVEY.md §2.7 E2/E3, §2.8) re-expressed as micro-batch loops over
the Spark fetch pipeline.

Offset model (hnarchive.py:162-195, 524-537):
* committed offset  = MAX(id) of the store's current snapshot, read from
  the max-id record each commit writes into its version dir before the
  pointer swap (no scan, no separate checkpoint — the merge is
  idempotent; a snapshot without a record is scanned once);
* external offset   = the API's maxitem counter;
* `update`          = drain the gap, repeat until fixpoint (the
  Trigger.AvailableNow analog);
* `livestream`      = the same forever, with idle backoff between polls.

Dead-id policy (the :165-189 race): an id whose fetch returns null is NOT
permanently skipped until (a) it has missed >= 5 polls AND (b) the head has
advanced > 50 ids past it — HN releases items in batches of < ~10, so a
50-id margin means the item is genuinely deleted, not mid-write.  The policy
is a pure, unit-testable object; the loop applies it to decide each batch's
id set.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import functions as F

from hnarchive_spark.sources.hn_api import (
    IdleBackoff,
    fetch_id_list,
    fetch_ids_df,
    fetch_items,
)
from hnarchive_spark.sources.items_store import ItemsStore

MATURITY_CUTOFF_S = 14 * 86400  # comments close after 14 days (hnarchive.py:703-711)


@dataclass
class SkipPolicy:
    """Tracks unresolved ids; decides permanent skips (hnarchive.py:165-189).

    skip_margin / miss_threshold mirror the reference's 50-id / 5-miss
    constants (hnarchive.py:176,184-186).
    """

    skip_margin: int = 50
    miss_threshold: int = 5
    misses: dict[int, int] = field(default_factory=dict)

    def record_miss(self, item_id: int) -> None:
        self.misses[item_id] = self.misses.get(item_id, 0) + 1

    def resolve(self, item_id: int) -> None:
        self.misses.pop(item_id, None)

    def should_skip(self, item_id: int, head: int) -> bool:
        return (
            self.misses.get(item_id, 0) >= self.miss_threshold
            and head > item_id + self.skip_margin
        )

    def pending(self) -> list[int]:
        return sorted(self.misses)


def update(
    store: ItemsStore,
    transport,
    parallelism: int = 8,
    retrieved_at: int | None = None,
    max_rounds: int = 100,
    commit_period: int | None = None,
    should_stop=None,
) -> int:
    """E2 catch-up: fetch (local_max, live_max], merge, repeat to fixpoint.

    Returns the number of rounds executed. Each round is one Spark batch:
    range -> mapInPandas fetch -> normalize -> merge -> atomic commit.
    ``parallelism`` is the number of fetches in flight (see ``fetch_items``).
    ``commit_period`` bounds the ids per commit (hnarchive.py:607-611) so a
    long catch-up makes durable progress; None = one commit per round.
    ``should_stop`` is polled after each chunk commit — the graceful-
    shutdown hook (K3): stopping here always leaves a committed prefix.
    """
    rounds = 0
    while rounds < max_rounds:
        lower = store.latest_id() + 1
        upper = transport.max_item()
        if lower > upper:
            break
        chunk = commit_period or (upper - lower + 1)
        lo = lower
        while lo <= upper:
            hi = min(lo + chunk - 1, upper)
            batch = fetch_items(
                store.spark, lo, hi, transport, parallelism, retrieved_at
            )
            store.merge_batch(batch)
            lo = hi + 1
            if should_stop is not None and should_stop():
                return rounds + 1
        rounds += 1
    return rounds


def update_items(
    store: ItemsStore,
    transport,
    days: float,
    only_mature: bool = False,
    now: int | None = None,
) -> None:
    """E4 update_items (hnarchive.py:539-562): re-crawl rows whose crawl-time
    age is within the window, because scores/descendants were still settling.

    The staleness scan uses the materialized ``age_at_retrieval`` column (the
    reference's expression index, SURVEY §1.4) so parquet min-max stats can
    skip settled files; ``--only_mature`` adds the 14-day cutoff
    (hnarchive.py:543-546).  The id source stays a DataFrame end-to-end —
    scan -> fetch -> merge with no driver-side materialization.
    """
    if now is None:
        import time as _t

        now = int(_t.time())
    items = store.read()
    cond = F.col("age_at_retrieval") <= int(days * 86400)
    if only_mature:
        cond = cond & (F.col("time") < F.lit(now - MATURITY_CUTOFF_S))
    ids_df = items.filter(cond).select("id")
    batch = fetch_ids_df(ids_df, transport, retrieved_at=now)
    store.merge_batch(batch)


def livestream_batches(
    store: ItemsStore,
    transport,
    policy: SkipPolicy | None = None,
    backoff: IdleBackoff | None = None,
    max_polls: int = 50,
    parallelism: int = 4,
    retrieved_at: int | None = None,
    sleep=lambda s: None,
):
    """E3 livestream as a bounded generator of merged batch summaries.

    Each poll: candidate ids = unresolved pending ids + the new range up to
    the live head.  Fetched non-nulls merge into the store and resolve;
    nulls record misses; ids the policy condemns are dropped permanently.
    Yields (poll_seq, merged_count, skipped_ids) so callers (and tests) can
    observe offset progression.  ``sleep`` is injectable; production passes
    time.sleep with the IdleBackoff cadence (hnarchive.py:190-194).
    """
    policy = policy or SkipPolicy()
    backoff = backoff or IdleBackoff()
    for poll in range(max_polls):
        head = transport.max_item()
        start = store.latest_id() + 1
        candidates = [i for i in policy.pending() if i < start] + list(
            range(start, head + 1)
        )
        if not candidates:
            sleep(backoff.next())
            yield (poll, 0, [])
            continue
        batch = fetch_id_list(
            store.spark, candidates, transport, parallelism, retrieved_at
        ).localCheckpoint(eager=True)  # fetch once; reused for ids + merge
        got = {r["id"] for r in batch.select("id").collect()}
        merged = 0
        if got:
            store.merge_batch(batch)
            merged = len(got)
            backoff.rewind(2)  # hnarchive.py:194
        skipped = []
        for i in candidates:
            if i in got:
                policy.resolve(i)
            else:
                policy.record_miss(i)
                if policy.should_skip(i, head):
                    policy.resolve(i)
                    skipped.append(i)
        if not got:
            sleep(backoff.next())
        yield (poll, merged, skipped)
