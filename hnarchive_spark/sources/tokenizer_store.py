"""Persisted TRAINED-TOKENIZER store: the iteratively-induced BPE merge
rules as a versioned artifact behind the atomic ``_CURRENT`` pointer.

A production pipeline trains a tokenizer ONCE and applies it everywhere
(every encode/pack/budget pass, forever) — re-inducing per query would be
the retokenize-per-probe mistake the BM25/IVF index families exist to
avoid.  This store persists :func:`induce_bpe_rules`' output so the apply
side (``q_bpe_encode``'s map-only literal-regexp projection) never pays
training.

Unlike the appendable index families (postings, signatures, codes), a
trained tokenizer is IMMUTABLE once published: applying it must be
reproducible forever (a rule list that shifts under consumers would
re-segment already-encoded history), so the lifecycle is build ->
publish -> load/apply, with retrains landing as NEW versions behind the
same pointer (index_version.py) — consumers pin a version or follow the
pointer, and old versions stay readable until pruned.

The artifact is a single tiny JSON (rounds x ~3 short strings): driver-side
IO by design, the bounded-metadata convention (centroid lists, quality
weights).  The 100 TB story lives in training (O(rounds) distributed
passes, induce_bpe_rules) and apply (map-only regexp chain broadcast as
query literals); the store itself is vocabulary-sized.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from hnarchive_spark.sources.index_version import (
    current_index_version,
    index_root,
    publish_index_version,
    write_json_atomic,
)


def _publish_rules(
    path: str,
    rules: list[tuple[int, str, str, int]],
    vocab: dict[str, int] | None = None,
) -> str:
    """Write the rule list as ``<path>/v<N+1>/_RULES.json`` and publish
    at the atomic pointer swap.  ``rounds`` is recorded as len(rules) —
    the count actually induced, which is SHORTER than the requested
    rounds when induction exhausts a tiny corpus (review r16: build
    previously recorded the request, extend the reality).  ``vocab`` is
    the TRAINING-CORPUS SNAPSHOT — the top-``SNAPSHOT_MAX_VOCAB`` base
    subtokens the training run saw (vocabulary-sized metadata, the
    centroid-list convention) — recorded so the maintenance scheduler can measure how
    far a future corpus has drifted from what this tokenizer was trained
    on (:func:`tokenizer_coverage`, VERDICT r16 #5)."""
    new_v = (current_index_version(path) or 0) + 1
    vdir = os.path.join(path, f"v{new_v}")
    write_json_atomic(
        os.path.join(vdir, "_RULES.json"),
        {
            "rounds": len(rules),
            "rules": [
                {"merge_round": k, "left": a, "right": b, "n_occurrences": n}
                for k, a, b, n in rules
            ],
            **({} if vocab is None else {"vocab": dict(sorted(vocab.items()))}),
        },
    )
    publish_index_version(path, new_v)
    return vdir


SNAPSHOT_MAX_VOCAB = 65_536  # snapshot cap — the driver collect stays bounded


def _training_vocab(docs: DataFrame, text_col: str) -> dict[str, int]:
    """The top-``SNAPSHOT_MAX_VOCAB`` training-corpus subtokens WITH their
    occurrence counts (count DESC, token text — a total order): ONE
    partial-agg shuffle collapses occurrences to types, the top-k runs
    as a distributed ``orderBy().limit()`` (TakeOrderedAndProject —
    per-partition heaps, never a single-task global sort; review r17:
    an unpartitioned row_number window would funnel every distinct type
    through one executor), and the driver collect is capped regardless
    of corpus size (at 100 TB distinct letter/digit runs can reach tens
    of millions).  The long tail a cap drops is by definition the
    rarest types, whose absence can only make the freshness check MORE
    eager, never blind.  Counts are kept so an EXTEND can merge its
    corpus's snapshot with the prior one by summed frequency."""
    from pyspark.sql import functions as F

    from hnarchive_spark.functions import text as T

    rows = (
        docs.select(F.explode(T.subtokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(SNAPSHOT_MAX_VOCAB)
        .collect()
    )
    return {r["tok"]: int(r["n"]) for r in rows}


def _merge_vocab(
    prior: dict[str, int] | None, new: dict[str, int]
) -> dict[str, int]:
    """Snapshot for an EXTEND: union of the prior snapshot and the extend
    corpus's, counts summed, re-capped by combined frequency.  A REPLACE
    here would be wrong (review r17): extending on a delta corpus would
    forget every subtoken of the original training corpus, the next
    audit over the full corpus would count all of them OOV, and the
    scheduler would recommend extends forever.  Union keeps the
    post-extend-clears contract for BOTH the delta-corpus and
    full-corpus extend styles."""
    merged = dict(prior or {})
    for tok, n in new.items():
        merged[tok] = merged.get(tok, 0) + n
    top = sorted(merged.items(), key=lambda kv: (-kv[1], kv[0]))
    return dict(top[:SNAPSHOT_MAX_VOCAB])


def build_tokenizer_store(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    rounds: int | None = None,
    text_col: str = "text",
) -> str:
    """Induce ``rounds`` BPE merge rules over ``docs`` (the full iterative
    re-count loop) and publish them as ``<path>/v<N+1>/_RULES.json``
    behind the atomic pointer swap.  Returns the new version directory."""
    from hnarchive_spark.plans.textops import BPE_TRAIN_ROUNDS, induce_bpe_rules

    n_rounds = BPE_TRAIN_ROUNDS if rounds is None else rounds
    return _publish_rules(
        path,
        induce_bpe_rules(spark, docs, n_rounds, text_col),
        vocab=_training_vocab(docs, text_col),
    )


def extend_tokenizer_store(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    extra_rounds: int,
    text_col: str = "text",
) -> str:
    """CONTINUE training from the published rules: apply the current
    version's rule list to the corpus (one chained map-only pass —
    BPE's training state IS the rule list, so the evolved streams are
    reproduced exactly), induce ``extra_rounds`` more merges, and
    publish prefix+new as a new version behind the pointer.

    On the SAME corpus this is provably identical to training
    rounds+extra_rounds from scratch (the equivalence the test locks) —
    which is the point: growing a vocabulary costs only the NEW rounds,
    never a from-scratch retrain.  Returns the new version directory."""
    from hnarchive_spark.plans.textops import induce_bpe_rules

    prefix = load_tokenizer_rules(path)
    new = induce_bpe_rules(
        spark, docs, extra_rounds, text_col, initial_rules=prefix
    )
    # the vocab snapshot UNIONS the extend corpus's types into the prior
    # snapshot (counts summed, re-capped): the version has now seen both
    # corpora, so the freshness check goes quiet whether the operator
    # extended on the full audit corpus or just the drifted delta
    vocab = _merge_vocab(_load_vocab_counts(path), _training_vocab(docs, text_col))
    return _publish_rules(path, prefix + new, vocab=vocab)


def pinned_root(path: str) -> str:
    """Resolve the CURRENT version directory ONCE, for callers that
    read the store more than once in a session (review r18): a release
    that loads rules, does hours of work, then loads the id map must
    see ONE version — re-resolving ``_CURRENT`` between the two reads
    races a concurrent extend and silently pairs v1 rules with v2's id
    map (every shipped id shifted, no error).  Pass the returned root
    to every subsequent ``root=`` parameter."""
    return index_root(path)


def load_tokenizer_rules(
    path: str, root: str | None = None
) -> list[tuple[int, str, str, int]]:
    """The CURRENT version's rules, in induction order (``root`` pins a
    version resolved earlier via :func:`pinned_root`)."""
    with open(os.path.join(root or index_root(path), "_RULES.json")) as fh:
        meta = json.load(fh)
    return [
        (r["merge_round"], r["left"], r["right"], r["n_occurrences"])
        for r in meta["rules"]
    ]


def _load_vocab_counts(path: str, root: str | None = None) -> dict[str, int] | None:
    """The CURRENT version's snapshot with counts (None for legacy
    stores).  Tolerates the transitional count-less list shape."""
    with open(os.path.join(root or index_root(path), "_RULES.json")) as fh:
        v = json.load(fh).get("vocab")
    if v is None:
        return None
    return dict(v) if isinstance(v, dict) else {tok: 1 for tok in v}


def load_tokenizer_vocab(path: str, root: str | None = None) -> list[str] | None:
    """The CURRENT version's training-corpus subtoken snapshot (token
    types only), or None for a store published before the snapshot
    existed (legacy — its freshness is unverifiable; retrain to
    upgrade)."""
    counts = _load_vocab_counts(path, root=root)
    return None if counts is None else sorted(counts)


UNK_ID = 0  # reserved: a token outside base vocab + merges maps here


def load_tokenizer_id_map(
    path: str, root: str | None = None
) -> tuple[dict[str, int], list[str]] | None:
    """The token <-> integer-id vocabulary the rule list DEFINES
    (VERDICT r17 #6 — the last step between 'selection' and
    training-ready shards): id 0 is the reserved ``<unk>``, ids
    ``1..B`` are the training snapshot's base subtokens in LEXICOGRAPHIC
    order (the snapshot is the base vocabulary — sorted so the mapping
    is reproducible from the artifact alone), and merge round ``k``'s
    merged token gets id ``B + k``.  Lookup is base-preferred and
    first-merge-wins for duplicate merged strings (a merged token equal
    to an existing base subtoken, or re-induced at a later round, maps
    to its FIRST id — deterministic, and decode stays total because
    every id still names exactly one string).  Returns ``(tok2id,
    id2tok)`` where ``id2tok[i]`` inverts every emitted id, or None for
    a legacy store without a snapshot (retrain to upgrade)."""
    if root is None:
        # one resolution for BOTH reads: vocab and rules must come from
        # the same version even if an extend publishes mid-call
        root = pinned_root(path)
    base = load_tokenizer_vocab(path, root=root)
    if base is None:
        return None
    b = len(base)
    id2tok = ["<unk>"] + list(base)
    tok2id = {tok: i + 1 for i, tok in enumerate(base)}
    for k, a, bb, _n in load_tokenizer_rules(path, root=root):
        merged = a + bb
        id2tok.append(merged)  # id b + k always DECODES to its string
        tok2id.setdefault(merged, b + int(k))  # first-wins, base-preferred
    return tok2id, id2tok


def decode_token_ids(ids: list[int], id2tok: list[str]) -> list[str]:
    """Invert an id sequence back to its token stream — the shard-side
    losslessness check (``decode(encode_ids(doc)) == encode(doc)`` for
    any doc whose subtokens the vocabulary covers)."""
    return [id2tok[i] for i in ids]


def tokenizer_coverage(
    spark: SparkSession, docs: DataFrame, path: str, text_col: str = "text"
) -> dict | None:
    """How well the published tokenizer's TRAINING snapshot covers the
    given corpus — q_vocab_coverage's exact aggregation shape (one
    partial-agg shuffle to (tok, n) type rows, the snapshot joined in as
    a broadcast, integer-e6 floor coverage) with the audit vocabulary
    replaced by the store's own training snapshot.  Returns
    ``{total_tokens, in_vocab_tokens, oov_tokens, oov_types,
    coverage_e6}``, or None for a legacy store with no snapshot.  A
    falling coverage_e6 means the corpus has drifted to subtokens the
    tokenizer never trained on — the <unk>-flood precursor the
    maintenance scheduler watches (VERDICT r16 #5)."""
    from pyspark.sql import functions as F

    from hnarchive_spark.functions import text as T

    vocab = load_tokenizer_vocab(path)
    if vocab is None:
        return None
    st = (
        docs.select(F.explode(T.subtokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    vdf = spark.createDataFrame([(t,) for t in vocab], "tok string").withColumn(
        "iv", F.lit(1)
    )
    row = (
        st.join(F.broadcast(vdf), "tok", "left")
        .withColumn("iv", F.coalesce(F.col("iv"), F.lit(0)))
        .agg(
            F.sum("n").alias("total"),
            F.sum(F.col("n") * F.col("iv")).alias("in_vocab"),
            F.sum(F.lit(1) - F.col("iv")).alias("oov_types"),
        )
        .collect()[0]
    )
    total = int(row["total"] or 0)
    in_vocab = int(row["in_vocab"] or 0)
    return {
        "total_tokens": total,
        "in_vocab_tokens": in_vocab,
        "oov_tokens": total - in_vocab,
        "oov_types": int(row["oov_types"] or 0),
        "coverage_e6": 1_000_000 if total == 0 else in_vocab * 1_000_000 // total,
    }


def tokenizer_needs_extend(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    min_coverage_e6: int = 990_000,
    text_col: str = "text",
) -> bool:
    """The freshness predicate the scheduler consults: True once the
    current corpus's coverage under the published training snapshot
    drops below ``min_coverage_e6`` — the signal to run ``tokenizer
    extend`` (which both learns the new merges AND refreshes the
    snapshot, so the predicate goes quiet).  Legacy stores without a
    snapshot return False (unverifiable, not due)."""
    cov = tokenizer_coverage(spark, docs, path, text_col)
    return cov is not None and cov["coverage_e6"] < min_coverage_e6
