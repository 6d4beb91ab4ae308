"""``archive_sync``: catch up to a moving HN head at the 200-id commit
cadence, render a thread the cycle touched, re-crawl a recent window, and
ingest one gated document batch beside the archive.

Closed loop, one client.  Cycle ``c`` moves the generator's head by
:data:`COMMIT` ids and calls ``update(..., commit_period=200)`` (the
primary op; work unit = one item committed), then ``render_page`` on one
thread of the new range, and every :data:`RECRAWL_EVERY` cycles
``update_items`` over the last :data:`RECRAWL_DAYS` days of crawl age.
Measured cycle :data:`INGEST_CYCLE` also runs the ingest side op
(``perfbench/ingest_op.py``): one ``maintain_ingest`` batch with all five
gates and one ``compact_ingest_store``.
Exactly one measured cycle, the last of the minimum window, has a null
head, and the stall that ``update`` shows on it is part of the run.  Its
position is fixed: the cycle after a stall commits 201 ids in two commits,
and keeping that cycle out of the minimum window keeps the window's mix
of ops the same for every seed.

The benchmark keeps its own model of what the store must hold: every id
it asked for, fetched at the epoch of its last fetch.  The final store
must match it row for row.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
from dataclasses import dataclass

from perfbench import items_gen as G
from perfbench.harness import Ops, Result, disk_bytes, median
from perfbench.ingest_op import IngestOp

COMMIT = 200
BUCKET_SIZE = 100_000  # the CLI default
MAX_ROUNDS = 3  # update()'s round cap; the CLI leaves it at 100
RECRAWL_EVERY = 4
RECRAWL_DAYS = 0.25
PARALLELISM = 8  # update()'s default fetch partition count
MIN_CYCLES = 4  # the window always holds three cycles and the null-head one
INGEST_CYCLE = 2  # the measured cycle that also ingests a document batch
SIZES = {False: (20_000, 1), True: (2_000, 1)}  # (seeded items, warm-up cycles)


@dataclass
class Inputs:
    seed: int
    n_seed: int
    warm: int
    work: str
    ingest: IngestOp

    @property
    def null_cycle(self) -> int:
        return self.warm + MIN_CYCLES  # the last cycle of the minimum window


def generate(seed: int, work: str, smoke: bool) -> Inputs:
    n_seed, warm = SIZES[smoke]
    return Inputs(seed, n_seed, warm, work, IngestOp(seed, os.path.join(work, "ingest")))


def _row_hash(rows) -> tuple[int, int]:
    """(count, order-insensitive sum of 64-bit row digests)."""
    acc = n = 0
    for r in rows:
        digest = hashlib.blake2b(repr(tuple(r)).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(digest, "big")) % (1 << 64)
        n += 1
    return n, acc


class Model:
    """Expected store contents: id -> normalized row of its last fetch."""

    def __init__(self, seed: int):
        self.seed = seed
        self.rows: dict[int, tuple] = {}
        self.latest = 0
        self.requested = 0  # ids asked of the transport
        self.returned = 0  # of which the transport answered with an item
        self.empty_commits = 0

    def fetch(self, ids, transport, retrieved: int) -> int:
        """Apply one fetch + merge; returns rows the batch carried."""
        got = 0
        for i in ids:
            self.requested += 1
            w = transport.get_item(i)
            if w is None:
                continue
            self.returned += 1
            row = G.normalized_row(self.seed, i, transport.epoch, retrieved)
            if row is None:
                continue  # tombstone
            got += 1
            self.rows[i] = row
            self.latest = max(self.latest, i)
        if not got:
            self.empty_commits += 1
        return got

    def update(self, transport, retrieved: int) -> tuple[int, int]:
        """Mirror ``update``: (rounds, new items)."""
        before = len(self.rows)
        rounds = 0
        while rounds < MAX_ROUNDS:
            lo, hi = self.latest + 1, transport.max_item()
            if lo > hi:
                break
            for a in range(lo, hi + 1, COMMIT):
                self.fetch(range(a, min(a + COMMIT - 1, hi) + 1), transport, retrieved)
            rounds += 1
        return rounds, len(self.rows) - before

    def update_items(self, transport, now: int) -> int:
        window = int(RECRAWL_DAYS * 86400)
        ids = [i for i, r in self.rows.items() if r[14] is not None and r[14] <= window]
        self.fetch(ids, transport, now)
        return len(ids)

    def closure_rows(self, root: int) -> int:
        kids: dict[int, list[int]] = {}
        for i, r in self.rows.items():
            if r[7] is not None:
                kids.setdefault(r[7], []).append(i)
        n, todo = 0, [root] if root in self.rows else []
        while todo:
            i = todo.pop()
            n += 1
            todo.extend(kids.get(i, ()))
        return n


def _count_linked(store_cls, tracer, out: list) -> None:
    """Traced runs: after each measured commit, count the new snapshot's
    files that are hardlinks shared with an older snapshot."""
    merge = store_cls.merge_batch

    def merge_batch(self, *a, **kw):
        r = merge(self, *a, **kw)
        if tracer.op is not None:
            t = time.perf_counter()
            d = self._version_dir(self._current_version())
            out.append(sum(1 for root, _d, fs in os.walk(d) for f in fs
                           if os.stat(os.path.join(root, f)).st_nlink > 1))
            tracer.self_s += time.perf_counter() - t
        return r

    store_cls.merge_batch = merge_batch


def run(spark, inp: Inputs, args, tracer) -> Result:
    from hnarchive_spark.functions import render
    from hnarchive_spark.sources import hn_api
    from hnarchive_spark.sources.items_store import ItemsStore
    from hnarchive_spark.streaming import livestream

    linked: list[int] = []
    if tracer.enabled:
        tracer.wrap(livestream, "fetch_items", "fetch_items")
        tracer.wrap(livestream, "fetch_ids_df", "fetch_ids_df")
        tracer.wrap(ItemsStore, "merge_batch", "merge_batch")
        _count_linked(ItemsStore, tracer, linked)
        tracer.wrap(ItemsStore, "latest_id", "latest_id")
        tracer.wrap(render, "tree_closure", "tree_closure")

    seed, n_seed = inp.seed, inp.n_seed
    seed_now = G.item_time(n_seed) + 2 * 86400  # seeded rows are settled
    # set-up: one seeding commit, the ingest indexes and the ingest store
    t = time.perf_counter()
    store = ItemsStore(spark, os.path.join(inp.work, "store"), bucket_size=BUCKET_SIZE)
    tr = G.GenTransport(seed, n_seed, epoch=0)
    store.merge_batch(hn_api.fetch_items(spark, 1, n_seed, tr, PARALLELISM, retrieved_at=seed_now))
    seed_commit_s = time.perf_counter() - t
    inp.ingest.setup(spark)
    setup_s = time.perf_counter() - t
    model = Model(seed)
    model.fetch(range(1, n_seed + 1), G.GenTransport(seed, n_seed, epoch=0), seed_now)
    model.empty_commits = 0

    null_head = n_seed + COMMIT * inp.null_cycle
    null_heads = ((null_head, inp.null_cycle),)
    ops = Ops()
    warmup: list[float] = []
    rounds_per_call: list[int] = []
    closure_rows: list[int] = []
    recrawled = 0
    deadline = None
    c = 0
    while True:
        c += 1
        measured = c > inp.warm
        if measured and deadline is None:
            ops.start()
            deadline = time.perf_counter() + args.seconds
            model.requested = model.returned = model.empty_commits = 0
        elif measured and time.perf_counter() >= deadline and c > inp.warm + MIN_CYCLES:
            break
        tracer.op = c if measured else None
        head = n_seed + COMMIT * c
        now = G.item_time(head) + 30
        tr = G.GenTransport(seed, head, epoch=c, null_heads=null_heads)
        with tracer.span("cycle"):
            t = time.perf_counter()
            with tracer.span("update"):
                rounds = livestream.update(store, tr, retrieved_at=now, max_rounds=MAX_ROUNDS,
                                           commit_period=COMMIT)
            lat = time.perf_counter() - t
            want_rounds, new_items = model.update(tr, now)
            root = G.thread_root(seed, head - COMMIT + 1 + G._h("root", seed, c) % COMMIT)
            with tracer.span("render_page"):
                page = render.render_page(store.read(), root)
            if c % RECRAWL_EVERY == 0:
                with tracer.span("update_items"):
                    livestream.update_items(store, tr, days=RECRAWL_DAYS, now=now)
                recrawled += model.update_items(tr, now)
            if c == inp.warm + INGEST_CYCLE:
                inp.ingest.run(spark, tracer)
        if not measured:
            warmup.append(lat)
            continue
        ops.lat.append(lat)
        ops.units += new_items
        rounds_per_call.append(rounds)
        if tracer.enabled:
            closure_rows.append(model.closure_rows(root))
        ops.attempted += 2  # the update and the page
        if rounds != want_rounds:
            ops.failed += 1
        if f'id="{root}"' not in page:
            ops.failed += 1
    ops.stop()
    tracer.op = None
    t_check = time.perf_counter()

    # output check: the final store against the model, order-insensitive
    from hnarchive_spark.schema import ITEMS_SCHEMA

    cols = [f.name for f in ITEMS_SCHEMA.fields]
    stored = [tuple(r.values()) for r in store.read().select(*cols).toArrow().to_pylist()]
    got, want = _row_hash(stored), _row_hash(model.rows.values())
    store_ok = got == want
    if not store_ok:
        ops.failed += len(ops.lat)
        extra_rows = set(stored) - set(model.rows.values())
        missing = set(model.rows.values()) - set(stored)
        print(f"store check: {len(extra_rows)} unexpected rows, e.g. {sorted(extra_rows)[:2]}; "
              f"{len(missing)} missing, e.g. {sorted(missing)[:2]}", file=sys.stderr)
    attempted, failed, ingest_info = inp.ingest.check(spark)
    ops.attempted += attempted
    ops.failed += failed
    # both stores and every index the program wrote, per live item or document
    live = len(model.rows) + inp.ingest.merged
    extra = {"stored_bytes_per_item": (disk_bytes(store.path) + inp.ingest.stored_bytes()) / live}
    info = {
        "null_head": null_head, "null_cycle": inp.null_cycle, "cycles": c - 1,
        "rounds_per_call": rounds_per_call, "store_rows": got[0], "model_rows": want[0],
        "store_check": "ok" if store_ok else "MISMATCH", "recrawled": recrawled,
        "seed_commit_s": round(seed_commit_s, 3), "check_s": round(time.perf_counter() - t_check, 3),
        "shares": {"per_block": {"deleted": 1, "dead": 1, "tombstone": 1, "null": 1},
                   "block_ids": G.BLOCK},
        **ingest_info,
    }
    trace = {"requested": model.requested, "returned": model.returned,
             "empty_commits": model.empty_commits, "rounds": rounds_per_call,
             "closure_rows": closure_rows, "linked": linked, "ingest": inp.ingest}
    sample = json.dumps([G.make_item(seed, i, 0) for i in range(1, 2 * G.BLOCK * 10 + 1)])
    fixtures = {"items_1_800": sample.encode(), "ingest_corpus": inp.ingest.fixture()}
    return Result(ops, setup_s, warmup, extra, info, fixtures, trace)


def layers(res: Result, tracer, log) -> dict:
    m = res.trace
    n_ops = max(1, len(res.ops.lat))
    items = max(1, res.ops.units)
    merges = tracer.measured("merge_batch")
    mtot = log.totals(log.jobs_in(tracer.subtree(merges)))
    pages = tracer.measured("render_page")
    # the fetch kernel runs in the commit's first job (the touched-bucket
    # listing that also persists the batch); later jobs read the cache
    fetch_stages = {sid for j in log.jobs_in(tracer.subtree(tracer.measured("update")))
                    if "items_store.py" in log.jobs[j]["call_site"]
                    for sid in log.jobs[j]["stages"]
                    if "MapInPandas" in log.stages.get(sid, {}).get("scope", "")}
    out = {
        "hn_api.fetch_exec_s": sum(log.stages[s]["run_s"] for s in fetch_stages) / n_ops,
        "hn_api.yield": m["returned"] / max(1, m["requested"]),
        "hn_api.transport_calls_per_item": m["requested"] / items,
        "livestream.update_rounds_per_call": sum(m["rounds"]) / n_ops,
        "livestream.update_items_s": median(tracer.seconds(tracer.measured("update_items"))),
        "items_store.merge_batch_s": median(tracer.seconds(merges)),
        "items_store.jobs_per_commit": mtot["jobs"] / max(1, len(merges)),
        "items_store.empty_commits": m["empty_commits"],
        "items_store.rows_rewritten_per_item": mtot["out_rows"] / items,
        "items_store.written_bytes_per_item": mtot["out_bytes"] / items,
        "items_store.files_linked_per_commit": median(m["linked"]),
        "items_store.latest_id_s": median(tracer.seconds(tracer.measured("latest_id"))),
        "render.page_s": median(tracer.seconds(pages)),
        "render.jobs_per_page": len(log.jobs_in(tracer.subtree(pages))) / max(1, len(pages)),
        "tree.closure_rows_per_page": median(m["closure_rows"]),
    }
    out.update(m["ingest"].layers(tracer, log))
    return out
