"""The one publish primitive: every JSON record and version pointer in
the package is written here.

Versioned artifacts (the items store, the persisted indexes, the SCD2,
vec and tokenizer stores, releases) write a complete new tree under
``<path>/v<N>/`` and then publish it by replacing one small pointer
record, ``<path>/_CURRENT``:

* the record is one JSON object, ``{"version": N, **meta}``.  Small
  metadata that must change atomically with the version rides in the
  same record (the items store's ``bucket_size`` and ``max_id``), so one
  rename commits the version and everything that describes it;
* a reader that resolved the root before the swap keeps a complete,
  immutable tree, and one that resolves after it sees the new version
  in full;
* the items store's older pointer was a bare int (``"7"``);
  :func:`read_index_record` still reads it as ``{"version": 7}``;
* a freshly built index is FLAT (``<path>/codes``, ...) until its first
  versioned rebuild, and :func:`index_root` resolves either layout;
* old versions are retained until :func:`prune_index_versions`, or
  trimmed to a window by :func:`retain` (the items store's snapshot
  window, the contamination gate's single back version of its Bloom
  bitmap).

Every other JSON sidecar (per-version ``_META.json``, ledgers, journals,
manifests) goes through :func:`write_json_atomic`: a tmp file, then one
``os.replace``.

Durability: process-crash safe, not power-loss safe: nothing is fsynced.
A killed process leaves either the old record or the new one, never a
torn one; a power loss may lose a rename the OS had not yet flushed.

The module also holds the one presence check of every idempotent
append, :func:`novel_rows` (the rows of a batch not yet in a bucketed
store or index), and :func:`checkpoint_count`, which materializes a
batch-sized frame and reads its row count from that same job.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

_POINTER = "_CURRENT"


def write_json_atomic(path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path`` by a tmp file and one rename."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def read_json(path: str, default=None):
    """The JSON value at ``path``, or ``default`` if the file is absent."""
    try:
        with open(path) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return default


def read_index_record(path: str) -> dict | None:
    """The published pointer record, or None while nothing is published.
    A legacy bare-int pointer reads as ``{"version": N}``."""
    rec = read_json(os.path.join(path, _POINTER))
    if rec is None:
        return None
    if not isinstance(rec, dict):
        rec = {"version": rec}
    return {**rec, "version": int(rec["version"])}


def current_index_version(path: str) -> int | None:
    """The published version number, or None while the index is flat."""
    rec = read_index_record(path)
    return None if rec is None else rec["version"]


def index_root(path: str) -> str:
    """Resolve the directory holding the CURRENT index data.

    Every reader and appender goes through here, so a rebuild changes
    what probes see exactly once — at the pointer swap."""
    v = current_index_version(path)
    return path if v is None else os.path.join(path, f"v{v}")


def publish_index_version(path: str, version: int, meta: dict | None = None) -> None:
    """Atomically point ``<path>/_CURRENT`` at version ``version``,
    carrying ``meta`` in the same record."""
    write_json_atomic(
        os.path.join(path, _POINTER), {"version": int(version), **(meta or {})}
    )


def _version_number(name: str) -> int | None:
    return int(name[1:]) if name.startswith("v") and name[1:].isdigit() else None


def retain(path: str, keep: int) -> list[str]:
    """Delete the ``v<digits>`` dirs older than the current version minus
    ``keep``; returns the removed paths.  Newer dirs (an unpublished
    commit) are left for the next writer, which reuses their number."""
    cur = current_index_version(path)
    if cur is None:
        return []
    removed = []
    for name in sorted(os.listdir(path)):
        n = _version_number(name)
        if n is not None and n < cur - keep:
            full = os.path.join(path, name)
            shutil.rmtree(full, ignore_errors=True)
            removed.append(full)
    return removed


def prune_index_versions(path: str) -> list[str]:
    """Delete version directories other than the published one (and any
    leftover flat-layout data dirs once a versioned root is live).
    Returns the removed paths.  Callers run this only once no reader can
    still hold the old version — the same operational contract as store
    snapshot pruning."""
    cur = current_index_version(path)
    if cur is None:
        return []
    removed = []
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if not os.path.isdir(full):
            continue
        n = _version_number(name)
        if n is not None and n != cur:
            shutil.rmtree(full)
            removed.append(full)
        elif n is None and (
            name in (
                "codes", "lists", "centroids", "codebooks", "postings",
                # MinHash index (bands/docs), contamination gate
                # (ev/bloom/tot), SCD2 store (runs), ingest doc store
                # (docs/urls), raw-vector store (vectors) — all publish
                # rebuilds into v<N>, leaving their flat pre-versioning
                # trees superseded
                "bands", "docs", "ev", "bloom", "tot", "runs", "urls", "vectors",
            )
            or name.startswith("bucket=")
        ):
            # pre-versioning flat data superseded by the published version
            # (bucket=* is the LSH index's flat layout — its partitions
            # live directly at the root, not under a named data dir)
            shutil.rmtree(full)
            removed.append(full)
    return removed


def checkpoint_count(df: DataFrame) -> tuple[DataFrame, int]:
    """``df`` eagerly local-checkpointed, and its row count.

    The count is an ``observe`` metric of the checkpoint job itself, so
    knowing the size costs no second scan.  It is exact: the metric is
    collected in the checkpoint job's result stage, whose accumulator
    updates the scheduler applies once per partition (a retried or
    speculative task's duplicate result is dropped), and an empty input
    reads 0.  For batch-sized frames only: the blocks live on the
    executors until the frame is garbage-collected on the driver."""
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    return out, int(obs.get["n"])


def novel_rows(
    spark,
    frame: DataFrame,
    data_dir: str,
    key: str,
    part_col: str,
    on_conflict: str = "skip",
) -> DataFrame:
    """The rows of ``frame`` whose ``key`` is not yet stored under
    ``data_dir`` — the presence check of every idempotent append.

    ``data_dir`` is parquet partitioned by ``part_col``, and ``frame``
    carries ``part_col`` computed the way the store computes it, so a
    stored copy of a key can only live in a partition the batch itself
    touches.  The batch's distinct partition values are collected (at
    most the store's partition count) and the store read is pruned to
    them: O(touched partitions), never O(store).  (A key whose partition
    value CHANGED — a re-routed vector — escapes the check; that is an
    update, which no append-only store supports, and rebuild handles
    it.)

    Returns ``frame`` unchanged while ``data_dir`` does not exist yet.
    ``on_conflict="skip"`` anti-joins the stored keys away (the form
    streaming maintenance needs: a re-delivered micro-batch appends
    nothing the second time); ``on_conflict="error"`` raises with a
    sample of the stored keys instead, and otherwise returns ``frame``.
    The result is lazy: ``frame`` is read again by whatever consumes it,
    so a caller that persisted ``frame`` keeps it until then."""
    if on_conflict not in ("error", "skip"):
        raise ValueError(f"on_conflict must be 'error' or 'skip', got {on_conflict!r}")
    if not os.path.isdir(data_dir):
        return frame
    touched = sorted(r[0] for r in frame.select(part_col).distinct().collect())
    if not touched:
        return frame
    existing = (
        spark.read.parquet(data_dir)
        .filter(F.col(part_col).isin(touched))
        .select(key)
    )
    if on_conflict == "skip":
        return frame.join(existing, key, "left_anti")
    dup = [
        r[0]
        for r in existing.join(frame.select(key).distinct(), key, "left_semi")
        .limit(5)
        .collect()
    ]
    if dup:
        raise ValueError(
            f"append: batch contains already-indexed {key}s (sample: {dup}); "
            "appending would double their contribution in probes. Dedupe the "
            "batch upstream, rebuild the index, or pass on_conflict='skip'."
        )
    return frame
