"""Seeded HN item generator for the ``archive_sync`` workload.

:class:`GenTransport` plays the HN Firebase API: every payload is computed
from ``(seed, id, epoch)``, so the transport holds a few scalars instead of
an item dict and pickles cheaply into every fetch task.

Layout.  Ids come in blocks of :data:`BLOCK` ids.  Position 0 of a block is
a thread root; the root type cycles over :data:`ROOT_CYCLE` (the seed only
rotates the cycle), so every run has the same mix of stories, Ask-HN
stories, jobs and polls.  A poll's next three ids are its pollopts; a job
block carries a second story (jobs take no comments).  The rest are
comments: the first four form a chain (so every thread is at least four
levels deep) and the others hang off an earlier live node of the block at
most :data:`MAX_DEPTH` levels down, picked by the seed.  Every block has exactly one deleted comment, one dead
comment, one tombstone (a payload without ``time``) and one API null, at
seed-picked comment positions.  Score and descendants drift with the fetch
epoch, so a re-crawl changes stored values.

Null heads.  ``null_heads`` lists ``(id, epoch)`` pairs: the id answers
null while the transport's epoch is at most ``epoch`` (the item is still
being written when it becomes the head) and answers normally afterwards.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass
from functools import lru_cache

BLOCK = 40
T0 = 1_600_000_000  # logical epoch of id 0
ID_SECONDS = 60  # logical seconds between consecutive ids
ROOT_CYCLE = ("story", "story", "ask", "story", "job", "story", "poll", "story", "story", "ask")
N_POLLOPTS = 3
CHAIN = 4
MAX_DEPTH = CHAIN + 1  # deepest reply level
SPECIAL = ("deleted", "dead", "tombstone", "null")
WORDS = (
    "spark archive merge thread comment story poll parquet index commit "
    "crawl render tree score rust python lisp compiler kernel query plan "
    "bucket shard snapshot stream batch window join shuffle cache latency"
).split()


def _h(*parts) -> int:
    return int.from_bytes(
        hashlib.blake2b(":".join(map(str, parts)).encode(), digest_size=8).digest(), "big"
    )


@lru_cache(maxsize=4096)
def block_plan(seed: int, block: int) -> tuple:
    """Per-position ``(role, parent_id)`` for one block; roles are a root
    type, ``pollopt``, ``comment`` or one of :data:`SPECIAL`."""
    rng = random.Random(_h("block", seed, block))
    base = block * BLOCK + 1
    root = ROOT_CYCLE[(block + seed) % len(ROOT_CYCLE)]
    roles: list = [None] * BLOCK
    parents: list = [None] * BLOCK
    roles[0] = root
    first = 1
    thread_root = base
    if root == "poll":
        for k in range(1, 1 + N_POLLOPTS):
            roles[k] = "pollopt"
            parents[k] = base  # the poll FK, not a parent edge
        first = 1 + N_POLLOPTS
    elif root == "job":
        roles[1] = "story"
        thread_root = base + 1
        first = 2
    # (id, depth) of nodes a later comment may reply to
    live = [(thread_root, 0)]
    for k in range(first, first + CHAIN):
        roles[k] = "comment"
        parents[k] = live[-1][0]
        live.append((base + k, live[-1][1] + 1))
    rest = list(range(first + CHAIN, BLOCK - 1))  # the last id is a head slot
    specials = rng.sample(rest, len(SPECIAL))
    for k, role in zip(specials, SPECIAL):
        roles[k] = role
    for k in range(first + CHAIN, BLOCK):
        role = roles[k] or "comment"
        roles[k] = role
        parent, depth = rng.choice([n for n in live if n[1] < MAX_DEPTH])
        parents[k] = parent
        if role in ("comment", "dead", "deleted"):
            live.append((base + k, depth + 1))
    return tuple(zip(roles, parents))


def thread_root(seed: int, item_id: int) -> int:
    """Root id of the thread that ``item_id`` belongs to."""
    block = (item_id - 1) // BLOCK
    base = block * BLOCK + 1
    return base + 1 if block_plan(seed, block)[0][0] == "job" else base


def item_time(item_id: int) -> int:
    return T0 + item_id * ID_SECONDS - (_h("t", item_id) % 37)


def _text(rng: random.Random, n: int) -> str:
    words = [rng.choice(WORDS) for _ in range(n)]
    mid = n // 2
    # HN's unbalanced <p> convention and escaped markup, for the renderer
    return " ".join(words[:mid]) + "<p>" + " ".join(words[mid:]) + " &lt;p&gt; ok"


def make_item(seed: int, item_id: int, epoch: int):
    """The wire payload for ``item_id`` at fetch ``epoch`` (None = API null)."""
    if item_id < 1:
        return None
    block = (item_id - 1) // BLOCK
    role, parent = block_plan(seed, block)[(item_id - 1) % BLOCK]
    if role == "null":
        return None
    if role == "tombstone":
        return {"id": item_id, "type": "comment"}
    rng = random.Random(_h("item", seed, item_id))
    t = item_time(item_id)
    author = f"user{rng.randrange(5000)}"
    drift = _h("drift", seed, item_id) % 5 + 1
    if role == "deleted":
        return {"id": item_id, "deleted": True, "type": "comment", "time": t, "parent": parent}
    if role in ("comment", "dead"):
        item = {"id": item_id, "type": "comment", "by": author, "time": t,
                "text": _text(rng, 8 + rng.randrange(12)), "parent": parent}
        if role == "dead":
            item["dead"] = True
        return item
    if role == "pollopt":
        return {"id": item_id, "type": "pollopt", "by": author, "time": t,
                "text": f"option {item_id}", "poll": parent,
                "score": rng.randrange(50) + drift * epoch}
    title = " ".join(rng.choice(WORDS) for _ in range(3 + rng.randrange(5))).title()
    item = {"id": item_id, "by": author, "time": t, "title": title,
            "score": 1 + rng.randrange(300) + drift * epoch}
    if role in ("story", "ask", "poll"):
        item["descendants"] = rng.randrange(40) + epoch
    if role == "story":
        item["type"] = "story"
        item["url"] = f"https://example.com/{seed}/{item_id}"
    elif role == "ask":
        item["type"] = "story"
        item["text"] = _text(rng, 20)
    elif role == "poll":
        item["type"] = "poll"
        item["text"] = _text(rng, 10)
    else:
        item["type"] = "job"
        item["url"] = f"https://jobs.example.com/{item_id}"
    return item


@dataclass
class GenTransport:
    """Picklable, dict-free transport over :func:`make_item`."""

    seed: int
    head: int
    epoch: int = 0
    null_heads: tuple = ()  # ((id, null_through_epoch), ...)

    def get_item(self, item_id: int):
        for nid, through in self.null_heads:
            if nid == item_id and self.epoch <= through:
                return None
        return make_item(self.seed, item_id, self.epoch)

    def max_item(self) -> int:
        return self.head


def normalized_row(seed: int, item_id: int, epoch: int, retrieved: int):
    """The store row ``normalize_wire`` makes of a fetch, or None if the
    fetch yields no row (API null or tombstone).  Columns follow
    ``ITEMS_SCHEMA``."""
    w = make_item(seed, item_id, epoch)
    if w is None or w.get("time") is None:
        return None
    return (
        w["id"], bool(w.get("deleted", False)), w.get("type"), w.get("by"), w["time"],
        w.get("text"), bool(w.get("dead", False)), w.get("parent"), w.get("poll"),
        w.get("url"), w.get("score"), w.get("title"), w.get("descendants"),
        retrieved, retrieved - w["time"],
    )
