"""Release publication lifecycle (VERDICT r16 #4 and #7):

* ATOMIC publish — a release lands as ``<out>/v<N>`` behind the
  ``_CURRENT`` pointer; a crash between the shard write and the
  manifest write (fault-injected) leaves the previous release fully
  readable, the torn attempt manifest-less and unpublished, and the
  next run self-heals it;
* ENCODER identity — ``--tokenizer-encoder kernel`` (the Arrow BPE
  meter) produces the SAME release as the oracled regexp meter;
* INGEST -> RELEASE reconciliation — the batch/streaming seam: drive
  the release over a store populated by the streaming document-ingest
  verb; on a quiesced store the ingest ledger's merged count equals
  the release manifest's raw count (the two composed verbs account
  for the same documents)."""

from __future__ import annotations

import json
import os

import pytest

# Multi-minute release publish/heal lifecycle integration sweeps (10-43 s per test): excluded
# from the DRIVER-SIZED default run, executed round-closing via
# `-m exhaustive` (pytest.ini; VERDICT r18 #1 suite-budget split).
pytestmark = pytest.mark.exhaustive
from pyspark.sql import functions as F

from hnarchive_spark.plans.release import (
    heal_torn_releases,
    latest_release_manifest,
    release_root,
    run_release,
)

SF = "/root/testdata/sf0.001"


def test_torn_release_detected_and_healed(spark, tmp_path, monkeypatch):
    """Kill the run between the shard write and the manifest write: the
    pointer must still serve v1 in full, and the next run must remove
    the torn v2 and publish a complete replacement."""
    out = str(tmp_path / "rel")
    m1 = run_release(spark, SF, out)
    assert m1["version"] == 1 and release_root(out) == os.path.join(out, "v1")

    real_replace = os.replace

    def _crash_before_manifest(src, dst):
        if str(dst).endswith("_MANIFEST.json"):
            raise RuntimeError("injected crash before manifest publish")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", _crash_before_manifest)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_release(spark, SF, out)
    monkeypatch.setattr(os, "replace", real_replace)

    # the torn attempt is on disk (stages + selected written) but has no
    # manifest and was never published — readers still resolve v1 whole
    v2 = os.path.join(out, "v2")
    assert os.path.isdir(os.path.join(v2, "selected"))
    assert not os.path.exists(os.path.join(v2, "_MANIFEST.json"))
    assert release_root(out) == os.path.join(out, "v1")
    assert latest_release_manifest(out) == m1
    assert spark.read.parquet(
        os.path.join(release_root(out), "selected")
    ).count() == m1["fates"]["selected"]

    # the next run self-heals the torn dir and supersedes it
    m2 = run_release(spark, SF, out)
    assert m2["healed_torn"] == [v2]
    assert m2["version"] == 2 and m2["conservation_ok"]
    assert release_root(out) == v2
    assert latest_release_manifest(out)["version"] == 2
    # fates are identical across the reruns (same corpus, same params)
    assert m2["fates"] == m1["fates"]


def test_heal_never_touches_published_version(tmp_path):
    """A published version missing its manifest is out-of-band damage,
    not a torn publish — heal must leave it for a human, loudly absent
    from the removed list."""
    from hnarchive_spark.sources.index_version import publish_index_version

    out = str(tmp_path / "rel")
    os.makedirs(os.path.join(out, "v1", "selected"))
    publish_index_version(out, 1)
    assert heal_torn_releases(out) == []
    assert os.path.isdir(os.path.join(out, "v1"))


def test_kernel_encoder_release_identical(spark, tmp_path):
    """The DEFAULT release meter is the Arrow kernel (VERDICT r17 #1 —
    the regexp chain is measured unbuildable at >=500 rules, so the
    unflagged path must be the one that scales), and it produces the
    SAME release as the explicit regexp oracle twin: same manifest
    (modulo the recorded encoder name) and the same selected rows."""
    from hnarchive_spark.sources.tokenizer_store import build_tokenizer_store
    from hnarchive_spark.tables import load

    tok = str(tmp_path / "tok")
    build_tokenizer_store(spark, load(spark, SF, "documents"), tok, rounds=3)

    out_a = str(tmp_path / "rel_regexp")
    out_b = str(tmp_path / "rel_kernel")
    ma = run_release(
        spark, SF, out_a, tokenizer_path=tok, tokenizer_encoder="regexp"
    )
    mb = run_release(spark, SF, out_b, tokenizer_path=tok)  # default path
    assert ma["params"]["tokenizer_encoder"] == "regexp"
    assert mb["params"]["tokenizer_encoder"] == "kernel"
    ka = {**ma, "params": {**ma["params"], "tokenizer_encoder": None}}
    kb = {**mb, "params": {**mb["params"], "tokenizer_encoder": None}}
    assert ka == kb
    rows = lambda o: sorted(  # noqa: E731
        map(
            tuple,
            spark.read.parquet(os.path.join(release_root(o), "selected"))
            .select("doc_id", "source", "n_tokens", "q_e4", "seq_id", "shard_id")
            .collect(),
        )
    )
    a = rows(out_a)
    assert len(a) > 0 and a == rows(out_b)


def test_ingest_then_release_reconcile(spark, tmp_path):
    """The batch/streaming seam (VERDICT r16 #7): stream the fixture
    documents through the gated ingest verb, quiesce, then run the
    release over the ingested store — the ingest ledger's merged count,
    the store's row count, and the release manifest's raw count are one
    number, and the release conserves from there."""
    from hnarchive_spark.streaming.index_maint import maintenance_stats, stream_maintenance
    from hnarchive_spark.streaming.ingest import maintain_ingest, read_ingested_docs
    from hnarchive_spark.tables import load

    d = load(spark, SF, "documents")
    src = str(tmp_path / "src")
    d.select("doc_id", "text").write.mode("overwrite").parquet(src)

    store = str(tmp_path / "store")
    # all-pass quality model: every bucket weighs 10000, threshold 5000 —
    # the gate RUNS (scored path, unscorable docs quarantined) without
    # changing the fixture's fate mix
    model = spark.range(256).select(
        F.col("id").alias("bucket"), F.lit(10_000).alias("w_e4")
    )
    q = stream_maintenance(
        spark.readStream.schema("doc_id long, text string").parquet(src),
        maintain_ingest(store, quality_threshold_e4=5_000, model=model),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    st = maintenance_stats(store)
    ingested = read_ingested_docs(spark, store)
    n_store = ingested.count()
    assert st["ingest_merged"] == n_store > 0

    # the release consumes the INGESTED store as its corpus: rebuild the
    # documents table from the store's own text (metadata columns joined
    # back from the source-of-truth fixture by doc_id)
    sf2 = str(tmp_path / "sf_ingested")
    (
        ingested.join(d.select("doc_id", "lang", "source", "n_chars"), "doc_id")
        .write.mode("overwrite")
        .parquet(os.path.join(sf2, "documents.parquet"))
    )
    out = str(tmp_path / "rel")
    m = run_release(spark, sf2, out)
    assert m["conservation_ok"]
    raw = next(s for s in m["stages"] if s["name"] == "raw")
    # THE reconciliation identity: ingest merged == release raw
    assert raw["docs"] == n_store == st["ingest_merged"]
    assert sum(v for k, v in m["fates"].items()) == raw["docs"]


def test_scheduler_detects_release_and_heals_torn(spark, tmp_path):
    """The maintenance scheduler closes the release lifecycle loop: a
    published release root is structurally detected as the 'release'
    family, a torn attempt makes it due, and the executed verb is
    heal_torn_releases — with a LIVE builder's dir left alone."""
    import json as _json

    from hnarchive_spark.sources.maintenance import (
        detect_index_kind,
        run_maintenance,
    )

    out = str(tmp_path / "rel")
    run_release(spark, SF, out)
    assert detect_index_kind(out) == "release"

    # quiet: published-only root is never due
    [rec] = run_maintenance(spark, [out], dry_run=True)
    assert rec["kind"] == "release" and not rec["due"]

    # a torn attempt (crashed run: data, no manifest, dead builder)
    torn = os.path.join(out, "v7")
    os.makedirs(os.path.join(torn, "selected"))
    with open(os.path.join(torn, "_BUILDING.json"), "w") as fh:
        _json.dump({"pid": 2**22 + 12345}, fh)  # guaranteed-dead pid
    [rec] = run_maintenance(spark, [out], dry_run=True)
    assert rec["due"] and rec["action"] == "heal_torn_releases"

    # a LIVE builder's dir must keep the root quiet (review r17: heal
    # must never remove a concurrently-running build)
    with open(os.path.join(torn, "_BUILDING.json"), "w") as fh:
        _json.dump({"pid": os.getpid()}, fh)
    [rec] = run_maintenance(spark, [out], dry_run=True)
    assert not rec["due"]

    # dead again -> the real pass heals it
    with open(os.path.join(torn, "_BUILDING.json"), "w") as fh:
        _json.dump({"pid": 2**22 + 12345}, fh)
    [rec] = run_maintenance(spark, [out])
    assert rec["executed"] and torn in rec["result"]
    assert not os.path.exists(torn)
    # the published release is untouched
    assert latest_release_manifest(out)["version"] == 1


def test_release_prune_old_versions(spark, tmp_path, monkeypatch, capsys):
    """release --prune-old: superseded versions drop after publish,
    the current one survives, readers resolve it whole."""
    import json as _json

    from hnarchive_spark import cli

    monkeypatch.setattr(cli, "get_spark", lambda *_a, **_k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    out = str(tmp_path / "rel")
    assert cli.main(["release", "--out", out, "--sf-dir", SF]) == 0
    capsys.readouterr()
    assert cli.main(["release", "--out", out, "--sf-dir", SF,
                     "--prune-old"]) == 0
    printed = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed["version"] == 2
    assert any(p.endswith("v1") for p in printed["pruned"])
    assert not os.path.exists(os.path.join(out, "v1"))
    m = latest_release_manifest(out)
    assert m["version"] == 2 and m["conservation_ok"]
    assert spark.read.parquet(
        os.path.join(release_root(out), "selected")
    ).count() == m["fates"]["selected"]


def test_crash_between_manifest_and_publish_heals(spark, tmp_path, monkeypatch):
    """ADVICE r17: a run that dies AFTER its manifest lands but BEFORE
    the pointer swap must keep its _BUILDING marker (removing it would
    make the dir read as a superseded published version and leak
    forever) — once the builder is dead, heal removes the attempt and
    the next run supersedes cleanly."""
    import hnarchive_spark.sources.index_version as iv
    from hnarchive_spark.plans.release import torn_release_dirs

    out = str(tmp_path / "rel")
    m1 = run_release(spark, SF, out)
    assert m1["version"] == 1

    real_publish = iv.publish_index_version

    def _crash_publish(path, version):
        raise RuntimeError("injected crash at pointer swap")

    monkeypatch.setattr(iv, "publish_index_version", _crash_publish)
    with pytest.raises(RuntimeError, match="pointer swap"):
        run_release(spark, SF, out)
    monkeypatch.setattr(iv, "publish_index_version", real_publish)

    # manifest landed, pointer did not move, marker KEPT (manifest-bearing
    # failure path) — and while this process (the "builder") lives, the
    # dir is not yet torn
    v2 = os.path.join(out, "v2")
    assert os.path.exists(os.path.join(v2, "_MANIFEST.json"))
    assert os.path.exists(os.path.join(v2, "_BUILDING.json"))
    assert release_root(out) == os.path.join(out, "v1")
    assert torn_release_dirs(out) == []

    # builder dies (forge a dead pid) -> the attempt becomes healable
    with open(os.path.join(v2, "_BUILDING.json"), "w") as fh:
        json.dump({"pid": 2**22 + 4242, "ts": 1.0}, fh)
    assert torn_release_dirs(out) == [v2]
    m2 = run_release(spark, SF, out)
    assert m2["healed_torn"] == [v2] and m2["version"] == 2
    assert release_root(out) == v2
    assert latest_release_manifest(out)["version"] == 2


def test_superseded_published_version_never_torn(spark, tmp_path):
    """Retain-until-pruned: a previously-published version (manifest, no
    marker, below the pointer) is NOT torn — only prune may remove it."""
    from hnarchive_spark.plans.release import torn_release_dirs

    out = str(tmp_path / "rel")
    run_release(spark, SF, out)
    run_release(spark, SF, out)
    assert latest_release_manifest(out)["version"] == 2
    assert torn_release_dirs(out) == []
    assert os.path.isdir(os.path.join(out, "v1"))


def test_prune_never_removes_live_builder(spark, tmp_path):
    """ADVICE r17: release pruning must skip a concurrent LIVE builder's
    in-progress dir (the raw index pruner rmtree's it unconditionally),
    then remove it once the builder is dead."""
    from hnarchive_spark.plans.release import prune_release_versions

    out = str(tmp_path / "rel")
    run_release(spark, SF, out)
    run_release(spark, SF, out)  # v2 published; v1 superseded

    live = os.path.join(out, "v9")
    os.makedirs(live)
    with open(os.path.join(live, "_BUILDING.json"), "w") as fh:
        json.dump({"pid": os.getpid(), "ts": __import__("time").time()}, fh)

    removed = prune_release_versions(out)
    assert os.path.join(out, "v1") in removed
    assert live not in removed and os.path.isdir(live)
    assert latest_release_manifest(out)["version"] == 2

    with open(os.path.join(live, "_BUILDING.json"), "w") as fh:
        json.dump({"pid": 2**22 + 999, "ts": 1.0}, fh)
    assert prune_release_versions(out) == [live]
    assert not os.path.exists(live)


def test_builder_alive_stale_and_corrupt_markers(tmp_path):
    """Pid-reuse guard (VERDICT r17 #3) + corrupt-marker hardening
    (ADVICE r17): a marker older than BUILDER_STALE_SECONDS reads as
    dead even with a LIVE pid; null / non-dict / malformed markers read
    as dead instead of crashing heal."""
    import time as _time

    from hnarchive_spark.plans.release import (
        BUILDER_STALE_SECONDS,
        _builder_alive,
    )

    vdir = str(tmp_path / "v1")
    os.makedirs(vdir)
    marker = os.path.join(vdir, "_BUILDING.json")

    # fresh marker, live pid -> alive
    with open(marker, "w") as fh:
        json.dump({"pid": os.getpid(), "ts": _time.time()}, fh)
    assert _builder_alive(vdir)

    # STALE marker, same (live) pid -> dead: a recycled pid must not
    # defer heal forever on a long-lived host
    with open(marker, "w") as fh:
        json.dump(
            {"pid": os.getpid(), "ts": _time.time() - BUILDER_STALE_SECONDS - 60},
            fh,
        )
    assert not _builder_alive(vdir)

    # legacy ts-less marker keeps pid semantics
    with open(marker, "w") as fh:
        json.dump({"pid": os.getpid()}, fh)
    assert _builder_alive(vdir)

    # corrupt shapes: null, scalar, list, bad pid, bad ts -> dead, no crash
    for payload in ("null", "7", '["pid"]', '{"pid": "nope"}',
                    '{"pid": 1, "ts": {}}', "{not json"):
        with open(marker, "w") as fh:
            fh.write(payload)
        assert not _builder_alive(vdir)

    # review r18: a NEGATIVE pid must read dead — os.kill(-1, 0) probes a
    # whole process group (always "alive"), so a corrupt ts-less marker
    # like {"pid": -1} would otherwise defer heal forever; and a pid
    # outside the C pid_t range raises OverflowError from os.kill, which
    # must not brick every subsequent release/heal/prune run
    for payload in ('{"pid": -1}', '{"pid": 0}', '{"pid": %d}' % 10**25):
        with open(marker, "w") as fh:
            fh.write(payload)
        assert not _builder_alive(vdir)

    os.remove(marker)
    assert not _builder_alive(vdir)


def test_stale_claim_dir_swept_by_heal(spark, tmp_path):
    """A run that died between mkdtemp and the version-claiming rename
    leaves a _claim.* staging dir — heal sweeps it once the builder is
    dead AND the mid-claim grace has passed, and leaves both a LIVE
    builder's staging dir and a FRESH marker-less one (a concurrent run
    mid-claim, before its marker write) alone."""
    out = str(tmp_path / "rel")
    run_release(spark, SF, out)

    dead = os.path.join(out, "_claim.dead1234")
    os.makedirs(dead)
    with open(os.path.join(dead, "_BUILDING.json"), "w") as fh:
        json.dump({"pid": 2**22 + 777, "ts": 1.0}, fh)
    os.utime(dead, (1.0, 1.0))  # aged past the mid-claim grace
    live = os.path.join(out, "_claim.live5678")
    os.makedirs(live)
    with open(os.path.join(live, "_BUILDING.json"), "w") as fh:
        json.dump({"pid": os.getpid(), "ts": __import__("time").time()}, fh)
    os.utime(live, (1.0, 1.0))  # aged, but the builder is alive
    midclaim = os.path.join(out, "_claim.fresh900")  # no marker YET
    os.makedirs(midclaim)

    healed = heal_torn_releases(out)
    assert dead in healed and not os.path.exists(dead)
    assert live not in healed and os.path.isdir(live)
    assert midclaim not in healed and os.path.isdir(midclaim)

    # prune applies the same guards: live + mid-claim survive
    run_release(spark, SF, out)  # v2 so prune has something current
    from hnarchive_spark.plans.release import prune_release_versions

    removed = prune_release_versions(out)
    assert live not in removed and midclaim not in removed
    assert os.path.isdir(live) and os.path.isdir(midclaim)


def test_version_allocation_skips_claimed_number(spark, tmp_path):
    """Atomic allocation (ADVICE r17): the rename-based claim cannot
    land on a number a concurrent run already holds — and at no instant
    does a claimed vdir exist without its _BUILDING marker (heal during
    the old mkdir-then-write window would have removed a live dir)."""
    out = str(tmp_path / "rel")
    run_release(spark, SF, out)

    # a concurrent run holds v2 (marker inside, live pid)
    held = os.path.join(out, "v2")
    os.makedirs(held)
    with open(os.path.join(held, "_BUILDING.json"), "w") as fh:
        json.dump({"pid": os.getpid(), "ts": __import__("time").time()}, fh)

    m = run_release(spark, SF, out)
    assert m["version"] == 3  # skipped the held number
    assert os.path.isdir(held)  # and never touched the live claim
    assert release_root(out) == os.path.join(out, "v3")


def test_release_emit_tokens_lossless(spark, tmp_path):
    """release --emit-tokens (VERDICT r17 #6): the shipped shards carry
    each selected doc's token-id array, and the ids are LOSSLESS —
    decoding them through the store's id->token table reproduces the
    kernel's exact encoded token stream, with zero <unk> ids (the
    training corpus IS the encode corpus and the snapshot is uncapped
    at fixture scale)."""
    from hnarchive_spark.functions import text as T
    from hnarchive_spark.operators.bpe_encode import build_rank, encode_tokens
    from hnarchive_spark.sources.tokenizer_store import (
        build_tokenizer_store,
        decode_token_ids,
        load_tokenizer_id_map,
        load_tokenizer_rules,
    )
    from hnarchive_spark.tables import load

    tok = str(tmp_path / "tok")
    d = load(spark, SF, "documents")
    build_tokenizer_store(spark, d, tok, rounds=3)

    out = str(tmp_path / "rel")
    m = run_release(spark, SF, out, tokenizer_path=tok, emit_tokens=True)
    assert m["params"]["emit_tokens"] is True and m["conservation_ok"]

    sel = spark.read.parquet(os.path.join(release_root(out), "selected"))
    assert "token_ids" in sel.columns
    rows = sel.select("doc_id", "n_tokens", "token_ids").collect()
    assert len(rows) == m["fates"]["selected"] > 0
    # shipped invariants: length == the metered token count, no <unk>
    for r in rows:
        assert len(r["token_ids"]) == r["n_tokens"]
        assert 0 not in r["token_ids"]

    # LOSSLESSNESS: decode(ids) == the kernel's encoded token stream,
    # recomputed here from the raw text via the pure-Python encoder
    pairs = [(a, b) for _k, a, b, _n in load_tokenizer_rules(tok)]
    rank = build_rank(pairs)
    _tok2id, id2tok = load_tokenizer_id_map(tok)
    st = {
        r["doc_id"]: list(r["st"])
        for r in d.select(
            "doc_id", T.subtokens(F.col("text")).alias("st")
        ).collect()
    }
    for r in rows:
        ts = "\x01".join(st[r["doc_id"]]).split("\x01")
        want = encode_tokens(ts, pairs, rank)
        assert decode_token_ids(list(r["token_ids"]), id2tok) == want

    # SEQUENCE-LEVEL artifact: per (source, seq_id) the shipped
    # concatenation equals the doc-level arrays in doc_id order, and
    # the manifest's sequence audit reconciles with the selection
    assert m["sequences"]["n_docs"] == m["fates"]["selected"]
    assert m["sequences"]["n_ids"] == m["sequences"]["n_tokens"]
    by_seq: dict = {}
    for r in sel.select("source", "seq_id", "doc_id", "token_ids").collect():
        by_seq.setdefault((r["source"], r["seq_id"]), []).append(
            (r["doc_id"], list(r["token_ids"]))
        )
    seq_rows = spark.read.parquet(
        os.path.join(release_root(out), "sequences")
    ).collect()
    assert len(seq_rows) == m["sequences"]["n_sequences"] == len(by_seq)
    assert m["sequences"]["bad_bounds"] == 0
    for r in seq_rows:
        docs_ids = [
            ids for _d, ids in sorted(by_seq[(r["source"], r["seq_id"])])
        ]
        want_flat = [i for ids in docs_ids for i in ids]
        assert list(r["token_ids"]) == want_flat
        assert r["n_docs"] == len(docs_ids)
        assert r["n_tokens"] == len(want_flat)
        # doc_bounds: slicing the sequence at the shipped offsets
        # reproduces every member document's id array (the attention-
        # mask boundary contract)
        bounds = list(r["doc_bounds"])
        assert len(bounds) == r["n_docs"] and bounds[-1] == r["n_tokens"]
        starts = [0] + bounds[:-1]
        got_slices = [
            list(r["token_ids"])[s:e] for s, e in zip(starts, bounds)
        ]
        assert got_slices == docs_ids

    # emit_tokens without a tokenizer is a loud contract error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="emit_tokens requires"):
        run_release(spark, SF, str(tmp_path / "rel2"), emit_tokens=True)

def test_release_pins_tokenizer_version_against_concurrent_extend(
    spark, tmp_path, monkeypatch
):
    """review r18: run_release resolves the tokenizer store's _CURRENT
    pointer ONCE.  An extend publishing v2 between the rules load and
    the id-map load must NOT shift the shipped ids — before the fix the
    id map was re-resolved at emit time, pairing v1 rules with v2's id
    map: every emitted id silently wrong (the base-id block shifts)
    while len(ids)==n_tokens and both conservation checks still held."""
    import hnarchive_spark.sources.tokenizer_store as ts
    from hnarchive_spark.functions import text as T
    from hnarchive_spark.operators.bpe_encode import build_rank, encode_tokens
    from hnarchive_spark.sources.tokenizer_store import (
        build_tokenizer_store,
        decode_token_ids,
    )
    from hnarchive_spark.tables import load

    tok = str(tmp_path / "tok")
    d = load(spark, SF, "documents")
    build_tokenizer_store(spark, d, tok, rounds=3)
    v1_rules = ts.load_tokenizer_rules(tok)
    _t2i, v1_id2tok = ts.load_tokenizer_id_map(tok)

    real = ts.load_tokenizer_id_map
    roots_seen = []

    def racing(path, root=None):
        # the concurrent extend: v2 adds a base subtoken that sorts
        # FIRST, shifting every base and merge id by one — the exact
        # corruption shape the review's failure scenario describes
        vocab = ts._load_vocab_counts(path) or {}
        vocab["\x00aaaa"] = 1
        ts._publish_rules(tok, v1_rules, vocab=vocab)
        roots_seen.append(root)
        return real(path, root=root)

    monkeypatch.setattr(ts, "load_tokenizer_id_map", racing)
    out = str(tmp_path / "rel")
    m = run_release(spark, SF, out, tokenizer_path=tok, emit_tokens=True)
    assert m["conservation_ok"] and m["params"]["tokenizer_version"] == 1
    # the release passed its PINNED v1 root through to the id-map load
    assert roots_seen and roots_seen[0] is not None
    assert roots_seen[0].rstrip("/").endswith("v1")

    # shipped ids decode under V1's table to the kernel's exact streams
    pairs = [(a, b) for _k, a, b, _n in v1_rules]
    rank = build_rank(pairs)
    st = {
        r["doc_id"]: list(r["st"])
        for r in d.select(
            "doc_id", T.subtokens(F.col("text")).alias("st")
        ).collect()
    }
    sel = spark.read.parquet(os.path.join(release_root(out), "selected"))
    rows = sel.select("doc_id", "token_ids").collect()
    assert rows
    for r in rows:
        want = encode_tokens(list(st[r["doc_id"]]), pairs, rank)
        assert decode_token_ids(list(r["token_ids"]), v1_id2tok) == want


def test_release_pack_strategy_recorded_and_ffd_no_worse(spark, tmp_path):
    """The release packs FFD by default (the strategy q_pack_waste's
    audit picked: 1.3% vs 26.5% pad waste at sf0.1), records the
    strategy in the manifest, keeps doc_id-order next-fit as the
    curriculum opt-in, and rejects unknown strategies loudly.  Both
    runs must select the IDENTICAL doc set (packing is downstream of
    selection), and FFD must never emit more sequences than next-fit
    packs of the same selection."""
    import pytest as _pytest

    out_ffd = str(tmp_path / "ffd")
    m_ffd = run_release(spark, SF, out_ffd)
    assert m_ffd["params"]["pack_strategy"] == "ffd"
    assert m_ffd["conservation_ok"]

    out_nf = str(tmp_path / "nf")
    m_nf = run_release(spark, SF, out_nf, pack_strategy="nf")
    assert m_nf["params"]["pack_strategy"] == "nf"
    assert m_nf["fates"]["selected"] == m_ffd["fates"]["selected"]

    sel_ffd = spark.read.parquet(os.path.join(release_root(out_ffd), "selected"))
    sel_nf = spark.read.parquet(os.path.join(release_root(out_nf), "selected"))
    assert sorted(r["doc_id"] for r in sel_ffd.select("doc_id").collect()) == \
        sorted(r["doc_id"] for r in sel_nf.select("doc_id").collect())

    def n_seqs(df):
        return df.select("source", "seq_id").distinct().count()

    assert n_seqs(sel_ffd) <= n_seqs(sel_nf)

    # validity on the FFD output: no packed sequence exceeds the budget
    # unless it is a single oversized document
    from hnarchive_spark.plans.textops import PACK_BUDGET

    over = (
        sel_ffd.groupBy("source", "seq_id")
        .agg(F.sum("n_tokens").alias("t"), F.count("*").alias("n"))
        .filter((F.col("t") > PACK_BUDGET) & (F.col("n") > 1))
        .count()
    )
    assert over == 0

    with _pytest.raises(ValueError, match="pack_strategy"):
        run_release(spark, SF, str(tmp_path / "bad"), pack_strategy="bfd")
