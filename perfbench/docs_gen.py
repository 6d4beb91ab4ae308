"""Seeded document generator for the ingest batch of ``archive_sync``.

Vocabularies are picked against the library's fixture quality model (a
token's weight is fixed by the md5 of its hash bucket), so a document's
fate is known before it is ingested:

* ``clean``   — novel words that score high: passes every gate and merges;
* ``url_dup`` — a new document whose URL canonicalizes to an earlier one's;
* ``lowq``    — words that score low: the quality gate rejects it;
* ``contam``  — the text of an eval document: the contamination gate
  rejects it (clean words never share a shingle with eval words);
* ``neardup`` — an archive document with one of 40 words replaced
  (3-shingle Jaccard 35/41 > 0.8): the near-dup gate should reject it.

Every batch holds each kind at the fixed count in :data:`MIX`; the seed
picks the words, which earlier URL or archive document is copied, and the
order inside the batch.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass

N_BUCKETS = 256  # the fixture model's bucket count
MIX = {"clean": 12, "url_dup": 2, "lowq": 2, "contam": 2, "neardup": 2}
BATCH = sum(MIX.values())
ARCHIVE_DOCS = 40
EVAL_DOCS = 20
DOC_WORDS = 40
QUALITY_THRESHOLD_E4 = 8000


def _md5_int(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _weight(token: str) -> int:
    """The fixture model's weight for ``token`` (operators/quality.py)."""
    return _md5_int(str(_md5_int(token) % N_BUCKETS)) % 20001


def vocabularies() -> tuple[list, list, list]:
    """(train words, eval words, low-quality words), disjoint."""
    high, low = [], []
    k = 0
    while len(high) < 450 or len(low) < 100:
        w = f"w{k}x"
        k += 1
        wt = _weight(w)
        if wt >= 12_000 and len(high) < 450:
            high.append(w)
        elif wt <= 3_000 and len(low) < 100:
            low.append(w)
    return high[:300], high[300:], low


@dataclass
class Corpus:
    archive: list  # (doc_id, text, url)
    eval: list  # (doc_id, text)
    batches: list  # [[(doc_id, text, url)], ...]
    kinds: dict  # doc_id -> kind


def corpus(seed: int, n_batches: int) -> Corpus:
    rng = random.Random(seed)
    train, ev_words, low = vocabularies()

    def text(words, n=DOC_WORDS):
        return " ".join(rng.choice(words) for _ in range(n))

    def url(doc_id):
        return f"https://site{rng.randrange(50)}.example.org/p/{doc_id}"

    archive = [(i, text(train), url(i)) for i in range(1, ARCHIVE_DOCS + 1)]
    evals = [(900_000 + i, text(ev_words, 30)) for i in range(EVAL_DOCS)]
    kinds = {d[0]: "archive" for d in archive}
    seen_urls = [d[2] for d in archive]
    batches = []
    next_id = 100_000
    for _b in range(n_batches):
        docs = []
        for kind, n in MIX.items():
            for _ in range(n):
                next_id += 1
                if kind == "clean":
                    doc = (next_id, text(train), url(next_id))
                elif kind == "url_dup":
                    u = rng.choice(seen_urls).replace("https://", "http://www.", 1)
                    doc = (next_id, text(train), u + "/?utm_source=feed#top")
                elif kind == "lowq":
                    doc = (next_id, text(low), url(next_id))
                elif kind == "contam":
                    doc = (next_id, rng.choice(evals)[1], url(next_id))
                else:
                    words = rng.choice(archive)[1].split()
                    words[rng.randrange(len(words))] = "changedword"
                    doc = (next_id, " ".join(words), url(next_id))
                kinds[next_id] = kind
                docs.append(doc)
        rng.shuffle(docs)
        seen_urls += [d[2] for d in docs if kinds[d[0]] == "clean"]
        batches.append(docs)
    return Corpus(archive, evals, batches, kinds)
