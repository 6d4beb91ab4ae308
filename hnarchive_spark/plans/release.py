"""The RELEASE run: the batch twin of streaming/ingest.py's gated verb
(VERDICT r15 #5) — one CLI-drivable pipeline chaining the full curation
stack over the corpus tables and emitting a MANIFEST with per-stage
conservation counts:

    url_dedup -> quality -> exact_dedup -> domain_cap        (the four-stage
                                                              pipeline, its
                                                              counts ARE
                                                              q_curation_funnel's)
    -> mix/temperature -> token-budget selection             (sampling)
    -> pack -> shard -> datacard                             (assembly)

Every stage is the REGISTERED query's own recipe (shared helpers /
identical expressions), so the manifest can never drift from the oracled
outputs: stages 0-4 are q_curation_funnel's own aggregate
(funnel_from_stages) over the gate-stage frames — which the run
materializes ONCE, publishes under ``<out>/stages/`` as the manifest's
audit evidence, and reuses for the downstream chain (the gates run one
time, not once per consumer); the shard audit is q_shard_assignment's
round-robin LPT recipe applied to the release's own selection; and the
conservation law

    raw == url_dup + quality_rejected + exact_dup + domain_capped
           + mix_dropped + budget_dropped + selected

is checked before the manifest is published (atomic tmp+rename, the
ledger discipline).

Scale shape: each stage is the registered query's plan (see their
docstrings — one ~60-byte-key exchange for URL dedup, broadcast quality
weights, fingerprint exchange, WindowGroupLimit domain cap, broadcast
mix rates, grouped_prefix_sum budget selection, per-source applyInPandas
pack over metadata, one window + partial-agg shard audit).  The funnel
accounting is ONE aggregate over flag joins (q_curation_funnel's plan),
and the selection is persisted once and reused by pack/shard/datacard/
write — nothing downstream re-runs the gates.
"""

from __future__ import annotations

import errno
import json
import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hnarchive_spark.functions import text as T
from hnarchive_spark.plans.dedup import shard_assign, temperature_sample
from hnarchive_spark.tables import load


def _mix_temperature_filter(surv_docs: DataFrame) -> DataFrame:
    """q_mix_temperature's acceptance (the SHARED temperature_sample —
    review r16: one definition, not a copy) applied over the SURVIVING
    docs — in the composed pipeline the language distribution that
    matters is the survivors', not the raw crawl's."""
    return temperature_sample(surv_docs)


def _budget_select(
    mixed_docs: DataFrame,
    budget: int,
    tokenizer_rules=None,
    encoder: str = "kernel",
) -> DataFrame:
    """q_select_token_budget's recipe (integer quality score, scalable
    grouped prefix sum, greedy per-source budget) over the mixed set.
    With ``tokenizer_rules`` the budget unit is the TRAINED tokenizer's
    token count — and the stage is BIT-IDENTICAL to the registered
    q_select_token_budget_bpe (ADVICE r16): zero-subtoken docs are
    filtered before metering (they have no tokens under the tokenizer
    and cannot be budgeted), exactly the query's
    ``F.size(T.subtokens(text)) > 0`` gate.  ``encoder`` picks the
    meter: ``"kernel"`` (the DEFAULT — VERDICT r17 #1) is the Arrow
    mapInPandas path (operators/bpe_encode.bpe_token_counts_kernel),
    ONE plan node at any vocabulary size; ``"regexp"`` is the oracled
    chained-literal projection (textops.bpe_token_count), kept as the
    exact-algebra twin and explicit opt-in only — it is measured
    unbuildable at >=500 rules (SCALE.md r17).  Locked row-identical,
    so the selection is the same either way.  The quality score stays
    the whitespace-stat recipe in both modes (same gate, different
    meter)."""
    from hnarchive_spark.operators.rankselect import grouped_prefix_sum
    from hnarchive_spark.plans.textops import bpe_token_count

    ws = T.tokens(F.col("text"))
    q = mixed_docs.select(
        "doc_id",
        "source",
        "lang",
        F.size(ws).cast("long").alias("n_tokens"),
        T.stopword_hits(F.col("text"), T.EN_STOPWORDS).cast("long").alias("stop_hits"),
        T.sum_token_len(F.col("text")).alias("sum_len"),
    ).select("doc_id", "source", "lang", "n_tokens", T.quality_e4_int().alias("q_e4"))
    if tokenizer_rules is not None:
        if encoder == "kernel":
            from hnarchive_spark.operators.bpe_encode import (
                bpe_token_counts_kernel,
            )

            # the kernel applies the size(subtokens) > 0 gate itself (it
            # drops zero-subtoken docs before the Arrow stage) — a
            # pre-filter here would evaluate the subtoken extraction
            # twice per row for nothing
            bt = bpe_token_counts_kernel(mixed_docs, tokenizer_rules)
        else:
            eligible = mixed_docs.filter(F.size(T.subtokens(F.col("text"))) > 0)
            bt = eligible.select(
                "doc_id", bpe_token_count(tokenizer_rules).alias("n_tokens")
            )
        q = q.drop("n_tokens").join(bt, "doc_id")
    # grouped_prefix_sum drops non-key columns; re-join lang after
    cum = grouped_prefix_sum(
        q.select("source", "doc_id", "n_tokens", "q_e4"),
        "source", "q_e4", "doc_id", "n_tokens",
        descending=True, bucket_width=256,
    )
    return (
        cum.filter(F.col("cum") <= budget)
        .select("source", "doc_id", "n_tokens", "q_e4")
        .join(q.select("doc_id", "lang"), "doc_id")
    )


PACK_STRATEGIES = ("ffd", "nf")  # first-fit-decreasing | next-fit


def _pack_selected(
    selected: DataFrame, pack_budget: int, strategy: str = "ffd"
) -> DataFrame:
    """The selection's packing fold (SHARED with the registered packing
    queries — review r16: one definition per fold, not copies).
    ``ffd`` (default) is first-fit-decreasing — measured 1.3% pad-token
    waste vs next-fit's 26.5% at sf0.1 (SCALE.md r18: within 16
    sequences of the bin lower bound; pad tokens are burned training
    compute, so the default is the strategy the audit picked).  ``nf``
    keeps q_pack_sequences' doc_id-order next-fit for corpora whose
    document order is a curriculum the training run must preserve."""
    from hnarchive_spark.plans.textops import pack_fold, pack_fold_ffd

    if strategy not in PACK_STRATEGIES:
        raise ValueError(
            f"pack_strategy must be one of {PACK_STRATEGIES}, got {strategy!r}"
        )
    fold = pack_fold_ffd if strategy == "ffd" else pack_fold
    return fold(selected.select("source", "doc_id", "n_tokens"), pack_budget)


def _existing_versions(out_dir: str) -> list[int]:
    try:
        names = os.listdir(out_dir)
    except FileNotFoundError:
        return []
    return sorted(
        int(n[1:])
        for n in names
        if n.startswith("v") and n[1:].isdigit()
        and os.path.isdir(os.path.join(out_dir, n))
    )


# A _BUILDING.json older than this reads as dead even when its pid is
# running: pids recycle, and on a long-lived host a recycled pid would
# otherwise make a genuinely dead torn dir look alive FOREVER, deferring
# heal indefinitely (VERDICT r17 'what's wrong' #3).  No release build
# legitimately runs this long; a real builder that somehow does loses
# only its in-progress dir (it re-runs), never published data.
BUILDER_STALE_SECONDS = 6 * 3600

# A marker-less _claim.* staging dir younger than this is presumed to be
# a concurrent run mid-claim (between mkdtemp and its marker write) and
# is never swept — the grace that closes the last half-made-dir window.
CLAIM_GRACE_SECONDS = 300

_CLAIM_PREFIX = "_claim."  # staging dirs for atomic version allocation


def _builder_alive(vdir: str) -> bool:
    """True if the ``_BUILDING.json`` marker names a process that is
    still running on this host AND the marker is fresh — the guard that
    keeps a second release run from rmtree-ing a LIVE first run's
    in-progress version (review r17: without it, auto-heal turns an
    accidental concurrent run into active data destruction).  A
    missing/corrupt/unreadable marker, a dead pid, or a marker older
    than :data:`BUILDER_STALE_SECONDS` (pid-reuse guard: a recycled pid
    must not defer heal forever) reads as not-alive: exactly the
    crashed-run case heal exists for."""
    try:
        with open(os.path.join(vdir, "_BUILDING.json")) as fh:
            marker = json.load(fh)
        pid = int(marker["pid"])
        ts = marker.get("ts")
        if ts is not None and time.time() - float(ts) > BUILDER_STALE_SECONDS:
            return False  # stale marker: treat a matching pid as recycled
    except (OSError, ValueError, KeyError, TypeError):
        # unreadable file, non-dict/null JSON (TypeError — ADVICE r17),
        # malformed pid/ts: all read as not-alive, never as a crash
        return False
    if pid <= 0:
        # no real builder has a non-positive pid — and os.kill(-1, 0)
        # probes a whole PROCESS GROUP (always "alive"), so a corrupt
        # negative pid would otherwise defer heal forever (review r18)
        return False
    try:
        os.kill(pid, 0)  # signal 0: existence probe, delivers nothing
        return True
    except ProcessLookupError:
        return False
    except PermissionError:  # pid exists but owned elsewhere — alive
        return True
    except OverflowError:
        # a pid outside the C pid_t range cannot name a live process;
        # reading it as a crash would brick every subsequent
        # release/heal/prune run on one corrupt marker (review r18)
        return False


def torn_release_dirs(out_dir: str) -> list[str]:
    """Healable torn attempts — detection only (the maintenance
    scheduler's due-predicate); :func:`heal_torn_releases` is the
    removal.  Three shapes qualify, all requiring a not-alive builder:

    * a manifest-less, unpublished version dir (died between its writes
      and its manifest);
    * a MANIFEST-BEARING unpublished dir that still carries its
      ``_BUILDING.json`` and whose version is ABOVE the published one
      (died between the manifest write and the pointer swap — readers
      never saw it; ADVICE r17: without this arm such a dir leaked
      forever).  A superseded previously-published version has neither
      the marker (removed after its own publish) nor a number above the
      pointer, so retain-until-pruned is untouched;
    * a leftover ``_claim.*`` allocation-staging dir (died between
      mkdtemp and the rename that claims a version number)."""
    from hnarchive_spark.sources.index_version import current_index_version

    cur = current_index_version(out_dir)
    torn = []
    for v in _existing_versions(out_dir):
        if v == cur:
            continue
        vdir = os.path.join(out_dir, f"v{v}")
        has_manifest = os.path.exists(os.path.join(vdir, "_MANIFEST.json"))
        has_marker = os.path.exists(os.path.join(vdir, "_BUILDING.json"))
        unpublished_above = cur is None or v > cur
        if has_manifest and not (has_marker and unpublished_above):
            continue  # published-then-superseded: retained until pruned
        if not _builder_alive(vdir):
            torn.append(vdir)
    try:
        names = os.listdir(out_dir)
    except FileNotFoundError:
        names = []
    for name in names:
        full = os.path.join(out_dir, name)
        if name.startswith(_CLAIM_PREFIX) and os.path.isdir(full):
            # GRACE WINDOW: between mkdtemp and the marker write inside
            # it, a claim dir is marker-less — the same
            # heal-sees-a-half-made-dir race the staged rename closed
            # for vdirs.  A very fresh claim dir is therefore presumed
            # live; a genuinely dead one ages past the grace and sweeps
            # on the next pass.
            try:
                fresh = time.time() - os.path.getmtime(full) < CLAIM_GRACE_SECONDS
            except OSError:  # raced away already
                continue
            if not fresh and not _builder_alive(full):
                torn.append(full)
    return torn


def heal_torn_releases(out_dir: str) -> list[str]:
    """Detect and remove TORN releases (VERDICT r16 'what's wrong' #2):
    see :func:`torn_release_dirs` for what qualifies — runs that died
    before their publish, which readers never saw (the ``_CURRENT``
    pointer only ever moves AFTER the manifest lands), so deleting them
    is safe and keeps the version numbering clean.  Two dirs are never
    touched: the PUBLISHED version (a pointer at a manifest-less dir
    would be out-of-band mutation — left for a human, loudly), and a
    dir whose ``_BUILDING.json`` is fresh with a live pid (a
    concurrently running release — same-host detection; version numbers
    are allocated collision-free regardless).  Returns removed paths."""
    import shutil

    removed = []
    for vdir in torn_release_dirs(out_dir):
        shutil.rmtree(vdir)
        removed.append(vdir)
    return removed


def prune_release_versions(out_dir: str) -> list[str]:
    """Release-aware prune (ADVICE r17): drop superseded version dirs
    like ``prune_index_versions``, but NEVER a dir whose builder is
    still alive — the raw index pruner rmtree's every non-current
    ``v<N>`` unconditionally, which would bypass the ``_builder_alive``
    guard and destroy a concurrent run's in-progress build.  Allocation
    staging dirs (``_claim.*``) with live builders are likewise left;
    dead ones are swept."""
    import shutil

    from hnarchive_spark.sources.index_version import current_index_version

    cur = current_index_version(out_dir)
    if cur is None:
        return []
    removed = []
    for name in sorted(os.listdir(out_dir)):
        full = os.path.join(out_dir, name)
        if not os.path.isdir(full) or name == f"v{cur}":
            continue
        versioned = name.startswith("v") and name[1:].isdigit()
        if not (versioned or name.startswith(_CLAIM_PREFIX)):
            continue
        if name.startswith(_CLAIM_PREFIX):
            try:  # same mid-claim grace as torn detection
                if time.time() - os.path.getmtime(full) < CLAIM_GRACE_SECONDS:
                    continue
            except OSError:
                continue
        if _builder_alive(full):
            continue  # a LIVE concurrent build — never prune it
        shutil.rmtree(full)
        removed.append(full)
    return removed


def release_root(out_dir: str) -> str:
    """The PUBLISHED release's directory (``<out>/v<N>`` behind the
    atomic ``_CURRENT`` pointer) — every reader resolves through here,
    so a reader can never observe a partially-written release."""
    from hnarchive_spark.sources.index_version import index_root

    return index_root(out_dir)


def latest_release_manifest(out_dir: str) -> dict:
    """The published release's manifest."""
    with open(os.path.join(release_root(out_dir), "_MANIFEST.json")) as fh:
        return json.load(fh)


def run_release(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    token_budget: int | None = None,
    pack_budget: int | None = None,
    n_shards: int | None = None,
    tokenizer_path: str | None = None,
    tokenizer_encoder: str = "kernel",
    emit_tokens: bool = False,
    pack_strategy: str = "ffd",
) -> dict:
    """Run the full release pipeline over ``sf_dir``'s documents table,
    write the selection (parquet, shard-partitioned), stage audit
    artifacts, and the manifest as ONE ATOMICALLY-PUBLISHED VERSION
    ``<out_dir>/v<N>`` behind the ``_CURRENT`` pointer (the
    index_version.py discipline, VERDICT r16 #4), and return the
    manifest.  The pointer swaps only after the manifest is on disk, so
    a crash anywhere mid-run leaves the previous release fully readable
    and the torn attempt detectable; the next run self-heals it
    (:func:`heal_torn_releases`) and supersedes with a fresh version.

    ``tokenizer_path`` points at a trained tokenizer store
    (sources/tokenizer_store.py): the budget / pack / shard / datacard
    token unit becomes the TRAINED tokenizer's token count (the unit the
    training run actually consumes) instead of whitespace tokens; the
    funnel's stage-0..4 token audit stays whitespace (it meters the raw
    corpus, consistently across releases regardless of tokenizer
    version).  ``tokenizer_encoder`` selects the metering path —
    ``"kernel"`` (the DEFAULT: the Arrow kernel, one plan node at any
    vocabulary size) or ``"regexp"`` (the oracled chain twin, explicit
    opt-in — measured unbuildable at >=500 rules; VERDICT r17 #1).  The
    manifest records ``token_unit``, the tokenizer version, and the
    encoder used.

    ``pack_strategy`` picks the sequence-packing fold — ``"ffd"`` (the
    DEFAULT: first-fit-decreasing, measured 1.3% pad-token waste vs
    next-fit's 26.5% at sf0.1, within 16 sequences of the bin lower
    bound — SCALE.md r18) or ``"nf"`` (doc_id-order next-fit, the
    opt-in for corpora whose document order is a training curriculum).
    Recorded in the manifest.

    ``emit_tokens`` (requires ``tokenizer_path`` — VERDICT r17 #6, the
    training-ready-shard step) adds each selected document's
    ``token_ids array<int>`` to the shipped shards (the Arrow kernel's
    encode mapped through the store's token->id vocabulary,
    tokenizer_store.load_tokenizer_id_map) AND ships the
    SEQUENCE-LEVEL artifact ``<vdir>/sequences`` — each packed
    sequence's documents' arrays concatenated in doc_id order
    (q_pack_token_ids' assembly shape) plus ``doc_bounds``, the member
    documents' cumulative END offsets (the attention-mask boundaries;
    q_seq_doc_bounds is the driver-checked twin), derived from a
    RE-READ of the shipped doc-level parquet and conservation-checked
    (sequence doc total == independent selected count, ids total ==
    token total, every bound table sized n_docs and closing at the id
    count) —
    so the release output is directly consumable by a training run at
    both granularities.  Decode losslessness (ids -> the exact kernel
    token stream) is test-locked."""
    from hnarchive_spark.plans.dedup import N_SHARDS, SELECT_TOKEN_BUDGET
    from hnarchive_spark.plans.textops import PACK_BUDGET
    from hnarchive_spark.sources.index_version import current_index_version

    token_budget = SELECT_TOKEN_BUDGET if token_budget is None else token_budget
    pack_budget = PACK_BUDGET if pack_budget is None else pack_budget
    n_shards = N_SHARDS if n_shards is None else n_shards
    if emit_tokens and tokenizer_path is None:
        raise ValueError(
            "emit_tokens requires tokenizer_path (token ids are defined "
            "by a trained tokenizer's vocabulary)"
        )

    # self-heal any torn prior attempt, then build the next version OFF
    # to the side of whatever is published — readers keep resolving the
    # old release through the pointer until the very last line.  The
    # version number is claimed by RENAMING a staged dir that already
    # contains the _BUILDING liveness marker (ADVICE r17: a bare mkdir
    # followed by the marker write left a window where a concurrent
    # run's heal scan saw a marker-less empty dir and removed the
    # just-claimed live dir); rename onto an existing non-empty dir
    # fails, so two concurrent runs can never interleave into one vdir,
    # and there is no instant at which a claimed vdir lacks its marker.
    healed = heal_torn_releases(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    staged = tempfile.mkdtemp(prefix=_CLAIM_PREFIX, dir=out_dir)
    with open(os.path.join(staged, "_BUILDING.json"), "w") as fh:
        json.dump({"pid": os.getpid(), "ts": time.time()}, fh)
    new_v = max([current_index_version(out_dir) or 0] + _existing_versions(out_dir))
    while True:
        new_v += 1
        vdir = os.path.join(out_dir, f"v{new_v}")
        try:
            os.rename(staged, vdir)
            break
        except OSError as exc:  # a concurrent run claimed this number
            if exc.errno not in (errno.EEXIST, errno.ENOTEMPTY):
                raise
            continue
    try:
        return _build_release(
            spark, sf_dir, out_dir, vdir, new_v, healed,
            token_budget, pack_budget, n_shards,
            tokenizer_path, tokenizer_encoder, emit_tokens, pack_strategy,
        )
    except BaseException:
        # a run that FAILS before its manifest unregisters its liveness
        # marker so the next run's heal treats the torn dir as dead
        # immediately; a hard kill leaves the marker with a dead pid,
        # which _builder_alive resolves the same way.  A failure AFTER
        # the manifest landed (the publish itself raised) KEEPS the
        # marker: manifest-bearing + marker + unpublished is exactly the
        # shape torn_release_dirs heals once the builder dies, whereas a
        # marker-less manifest-bearing dir would read as a superseded
        # published version and leak forever (ADVICE r17).
        if not os.path.exists(os.path.join(vdir, "_MANIFEST.json")):
            try:
                os.remove(os.path.join(vdir, "_BUILDING.json"))
            except OSError:
                pass
        raise


def _build_release(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    vdir: str,
    new_v: int,
    healed: list[str],
    token_budget: int,
    pack_budget: int,
    n_shards: int,
    tokenizer_path: str | None,
    tokenizer_encoder: str,
    emit_tokens: bool,
    pack_strategy: str,
) -> dict:
    """run_release's build body: everything between version allocation
    and the pointer swap, under the caller's torn-marker guard."""
    from hnarchive_spark.plans.curation import (
        _url_pipeline_stages,
        funnel_from_stages,
    )
    from hnarchive_spark.sources.index_version import (
        publish_index_version,
        write_json_atomic,
    )

    d = load(spark, sf_dir, "documents")

    # Materialize the gate-stage frames ONCE as PUBLISHED audit artifacts
    # (<out>/stages/<name>), then derive BOTH the funnel counts and the
    # downstream chain from the written copies — the gates run one time,
    # and the manifest's evidence trail is on disk next to it.  The
    # funnel aggregate itself is the registered query's own code
    # (funnel_from_stages — q_curation_funnel is literally that helper
    # over frames it builds itself), so the counts still cannot drift:
    # the frames are deterministic and the cross-check test re-runs the
    # registered query independently and asserts equality.
    built = _url_pipeline_stages(spark, sf_dir)
    stage_frames: dict[str, DataFrame] = {}
    # persist each frame before writing: the stage lineages chain (kept_q
    # reads usurv, surv reads both, ...), so an unpersisted write loop
    # would re-run the gate-chain PREFIX once per written stage — with
    # the caches each gate executes once and later stages read their
    # parents from memory (review r16)
    for name in ("usurv", "kept_q", "surv", "final"):
        built[name] = built[name].persist()
    try:
        for name in ("usurv", "kept_q", "surv", "final"):
            p = os.path.join(vdir, "stages", name)
            built[name].write.mode("overwrite").option(
                "compression", "zstd"
            ).parquet(p)
            stage_frames[name] = spark.read.parquet(p)
    finally:
        for name in ("usurv", "kept_q", "surv", "final"):
            built[name].unpersist()

    funnel = sorted(
        (r.asDict() for r in funnel_from_stages(d, stage_frames).collect()),
        key=lambda r: r["stage"],
    )
    stages = [
        {
            "stage": int(r["stage"]),
            "name": r["stage_name"],
            "docs": int(r["n_docs"]),
            "tokens": int(r["n_tokens"]),
        }
        for r in funnel
    ]

    final = stage_frames["final"]
    surv_docs = d.join(final.select("doc_id"), "doc_id").select(
        "doc_id", "source", "lang", "text"
    )
    mixed = _mix_temperature_filter(surv_docs)
    mix_stats = mixed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(T.n_tokens(F.col("text")).cast("long")).alias("t"),
    ).collect()[0]
    n_mix = int(mix_stats["n"])
    # tokens here are whitespace (the stage-0..4 audit unit) so the
    # stages list stays schema-homogeneous; stage 6's tokens switch to
    # the SELECTION unit (params.token_unit) by design
    stages.append(
        {
            "stage": 5,
            "name": "mix_temperature",
            "docs": n_mix,
            "tokens": int(mix_stats["t"] or 0),
        }
    )

    tokenizer_rules = tokenizer_version = tokenizer_root = None
    if tokenizer_path is not None:
        from hnarchive_spark.sources.index_version import current_index_version
        from hnarchive_spark.sources.tokenizer_store import load_tokenizer_rules

        # pin the store version in ONE pointer read; every later read in
        # this release (rules here, the id map at emit time) goes through
        # tokenizer_root, so a concurrent extend publishing mid-release
        # cannot mix versions (review r18: re-resolving _CURRENT at emit
        # paired v1 rules with v2's id map — every shipped id silently
        # shifted while both conservation checks still pass)
        tokenizer_version = current_index_version(tokenizer_path)
        tokenizer_root = (
            tokenizer_path
            if tokenizer_version is None
            else os.path.join(tokenizer_path, f"v{tokenizer_version}")
        )
        tokenizer_rules = load_tokenizer_rules(tokenizer_path, root=tokenizer_root)
    selected = _budget_select(
        mixed, token_budget, tokenizer_rules, encoder=tokenizer_encoder
    ).persist()
    try:
        n_sel = selected.count()
        sel_tokens = int(
            selected.agg(F.sum("n_tokens").alias("t")).collect()[0]["t"] or 0
        )
        stages.append(
            {"stage": 6, "name": "token_budget", "docs": n_sel, "tokens": sel_tokens}
        )

        packed = _pack_selected(selected, pack_budget, pack_strategy)
        sharded = shard_assign(selected, n_shards)
        out_rows = (
            selected.select("source", "doc_id", "lang", "n_tokens", "q_e4")
            .join(packed.select("doc_id", "seq_id"), "doc_id")
            .join(sharded.select("doc_id", "shard_id"), "doc_id")
        )
        if emit_tokens:
            # training-ready shards (VERDICT r17 #6): each selected doc
            # ships its token-id array — the ids kernel re-encodes ONLY
            # the selection (one MapInPandas over |selected| docs), and
            # the join is 1:1 (the meter already excluded zero-subtoken
            # docs, so every selected doc encodes) — the independent
            # read-back count below would catch any drop or fan-out
            from hnarchive_spark.operators.bpe_encode import (
                encode_bpe_ids_kernel,
            )
            from hnarchive_spark.sources.tokenizer_store import (
                load_tokenizer_id_map,
            )

            id_map = load_tokenizer_id_map(tokenizer_path, root=tokenizer_root)
            if id_map is None:
                raise ValueError(
                    "emit_tokens needs a tokenizer store with a training "
                    "snapshot (legacy store: retrain to upgrade)"
                )
            pairs = [(a, b) for _k, a, b, _n in tokenizer_rules]
            ids = encode_bpe_ids_kernel(
                d.join(selected.select("doc_id"), "doc_id").select(
                    "doc_id", "text"
                ),
                pairs,
                id_map[0],
            )
            out_rows = out_rows.join(
                ids.select("doc_id", "token_ids"), "doc_id"
            )
        out_rows = out_rows.persist()
        try:
            shard_audit = [
                {
                    "source": r["source"],
                    "shard_id": int(r["shard_id"]),
                    "n_docs": int(r["n_docs"]),
                    "shard_tokens": int(r["shard_tokens"]),
                }
                for r in sorted(
                    out_rows.groupBy("source", "shard_id")
                    .agg(
                        F.count(F.lit(1)).alias("n_docs"),
                        F.sum("n_tokens").alias("shard_tokens"),
                    )
                    .collect(),
                    key=lambda r: (r["source"], r["shard_id"]),
                )
            ]
            datacard = [
                {
                    "source": r["source"],
                    "n_docs": int(r["n_docs"]),
                    "n_tokens": int(r["n_tokens"]),
                    "n_seqs": int(r["n_seqs"]),
                    "n_shards": int(r["n_shards"]),
                    "langs": sorted(r["langs"]),
                }
                for r in sorted(
                    out_rows.groupBy("source")
                    .agg(
                        F.count(F.lit(1)).alias("n_docs"),
                        F.sum("n_tokens").alias("n_tokens"),
                        F.count_distinct("seq_id").alias("n_seqs"),
                        F.count_distinct("shard_id").alias("n_shards"),
                        F.collect_set("lang").alias("langs"),
                    )
                    .collect(),
                    key=lambda r: r["source"],
                )
            ]
            os.makedirs(vdir, exist_ok=True)
            (
                out_rows.repartition("shard_id")
                .write.mode("overwrite")
                .option("compression", "zstd")
                .partitionBy("shard_id")
                .parquet(os.path.join(vdir, "selected"))
            )
        finally:
            out_rows.unpersist()
    finally:
        selected.unpersist()

    # INDEPENDENT selection count (ADVICE r16): re-read the parquet the
    # release actually shipped and count it — this is what catches a
    # drop or fan-out in the pack/shard joins or the write itself, which
    # comparing n_sel against a fate derived FROM n_sel (a tautology)
    # never could.
    n_written = spark.read.parquet(os.path.join(vdir, "selected")).count()

    seq_audit = None
    if emit_tokens:
        # SEQUENCE-LEVEL shards (the actual training batch unit): each
        # packed sequence's documents' id arrays concatenated in doc_id
        # order — q_pack_token_ids' assembly shape over the SHIPPED
        # doc-level parquet (re-read, so the sequences provably derive
        # from what was written, not from lineage that could diverge).
        # Per-group state is bounded by the pack budget by construction.
        shipped = spark.read.parquet(os.path.join(vdir, "selected"))
        from hnarchive_spark.plans.textops import cumulative_ends

        seqs = (
            shipped.groupBy("source", "seq_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_tokens").cast("long").alias("n_tokens"),
                F.array_sort(
                    F.collect_list(F.struct("doc_id", "token_ids"))
                ).alias("dl"),
            )
            .select(
                "source",
                "seq_id",
                "n_docs",
                "n_tokens",
                F.flatten(
                    F.transform("dl", lambda x: x["token_ids"])
                ).alias("token_ids"),
                # per-doc END offsets in doc_id order — the attention-
                # mask boundaries (cross-doc attention inside a packed
                # sequence masks at these): trainers slice without
                # rejoining the doc-level shards (q_seq_doc_bounds is
                # the driver-checked twin of this column)
                cumulative_ends(
                    F.transform(
                        "dl", lambda x: F.size(x["token_ids"]).cast("long")
                    )
                ).alias("doc_bounds"),
            )
        )
        seqs.write.mode("overwrite").option("compression", "zstd").parquet(
            os.path.join(vdir, "sequences")
        )
        # conservation at the sequence level, against the re-read output
        srow = (
            spark.read.parquet(os.path.join(vdir, "sequences"))
            .agg(
                F.count(F.lit(1)).alias("n_seqs"),
                F.sum("n_docs").alias("docs"),
                F.sum("n_tokens").alias("toks"),
                F.sum(F.size("token_ids")).alias("ids"),
                # a bound table is consistent iff it has one entry per
                # member doc and its last entry equals the id count
                F.sum(
                    F.when(
                        (F.size("doc_bounds") == F.col("n_docs"))
                        & (
                            F.get("doc_bounds", F.size("doc_bounds") - 1)
                            == F.size("token_ids").cast("long")
                        ),
                        0,
                    ).otherwise(1)
                ).alias("bad_bounds"),
            )
            .collect()[0]
        )
        seq_audit = {
            "n_sequences": int(srow["n_seqs"]),
            "n_docs": int(srow["docs"] or 0),
            "n_tokens": int(srow["toks"] or 0),
            "n_ids": int(srow["ids"] or 0),
            "bad_bounds": int(srow["bad_bounds"] or 0),
        }
        if (
            seq_audit["n_docs"] != n_written
            or seq_audit["n_ids"] != seq_audit["n_tokens"]
            or seq_audit["bad_bounds"] != 0
        ):
            raise ValueError(
                f"sequence emission violated conservation: {seq_audit} "
                f"vs selected={n_written}"
            )

    # the conservation law (the streaming ledger's batch twin): every raw
    # doc is accounted to exactly one NONNEGATIVE fate.  The sum of the
    # fates telescopes to the raw count by construction, so summation is
    # NOT the check (review r16 — a tautology can't fail); the real
    # invariants are (a) every stage is a SUBSET of its predecessor
    # (fates >= 0 — a negative fate means a stage invented rows, e.g. a
    # join fan-out), and (b) the final fate equals the independently
    # counted selection.
    by_name = {s["name"]: s["docs"] for s in stages}
    fates = {
        "url_dup": by_name["raw"] - by_name["url_dedup"],
        "quality_rejected": by_name["url_dedup"] - by_name["quality_gate"],
        "exact_dup": by_name["quality_gate"] - by_name["exact_dedup"],
        "domain_capped": by_name["exact_dedup"] - by_name["domain_cap"],
        "mix_dropped": by_name["domain_cap"] - by_name["mix_temperature"],
        "budget_dropped": by_name["mix_temperature"] - by_name["token_budget"],
        "selected": by_name["token_budget"],
    }
    conserved = (
        all(v >= 0 for v in fates.values()) and fates["selected"] == n_written
    )
    manifest = {
        "version": new_v,
        "sf_dir": os.path.abspath(sf_dir),
        "params": {
            "token_budget": token_budget,
            "pack_budget": pack_budget,
            "pack_strategy": pack_strategy,
            "n_shards": n_shards,
            "token_unit": "whitespace" if tokenizer_rules is None else "bpe",
            "tokenizer_version": tokenizer_version,
            "tokenizer_rules": None if tokenizer_rules is None else len(tokenizer_rules),
            "tokenizer_encoder": None if tokenizer_rules is None else tokenizer_encoder,
            "emit_tokens": bool(emit_tokens),
        },
        "stages": stages,
        "fates": fates,
        "selected_rows_written": int(n_written),
        "sequences": seq_audit,
        "conservation_ok": bool(conserved),
        "healed_torn": healed,
        "shards": shard_audit,
        "datacard": datacard,
    }
    if not conserved:  # loud: a manifest that doesn't add up must not publish
        raise ValueError(
            f"release conservation violated: fates={fates} written={n_written}"
        )
    # land the manifest, publish, and only THEN unregister the liveness
    # marker (ADVICE r17: removing the marker before the manifest left a
    # window where the vdir was marker-less AND manifest-less, so a
    # concurrent run's heal would rmtree a fully-built release
    # mid-publish).  A crash before the manifest leaves a manifest-less
    # marked dir (torn once the pid dies); between manifest and publish,
    # a manifest-bearing marked unpublished dir (likewise torn);
    # between publish and marker removal, a published dir with a stale
    # marker — harmless (heal and prune both skip the current version).
    write_json_atomic(os.path.join(vdir, "_MANIFEST.json"), manifest)
    # the publish: one atomic pointer swap, strictly AFTER the manifest
    # — a crash before this line leaves the old release current and this
    # attempt torn-detectable
    publish_index_version(out_dir, new_v)
    os.remove(os.path.join(vdir, "_BUILDING.json"))
    return manifest
