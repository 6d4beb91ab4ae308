"""Distributed Lloyd's k-means: determinism, partition properties, and the
end-to-end index-build path (kmeans labels -> persisted IVF index -> probe).
The value-hash check against the unrolled-CTE DuckDB oracle lives in
test_oracle_parity.py (q_kmeans_assign)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hnarchive_spark.operators.kmeans import kmeans_assign
from hnarchive_spark.tables import load

SF = "/root/testdata/sf0.001"


def test_kmeans_assign_partitions_corpus(spark):
    e = load(spark, SF, "embeddings")
    n = e.count()
    a = kmeans_assign(e, k=8, iters=3)
    rows = a.collect()
    assert len(rows) == n  # every vector assigned exactly once
    assert len({r["vec_id"] for r in rows}) == n
    lists = {r["list_id"] for r in rows}
    assert lists == set(range(8))  # no empty clusters on this corpus


def test_kmeans_assign_deterministic(spark):
    e = load(spark, SF, "embeddings")
    a = sorted(map(tuple, kmeans_assign(e, k=8, iters=3).collect()))
    b = sorted(map(tuple, kmeans_assign(e, k=8, iters=3).collect()))
    assert a == b


def test_kmeans_iterations_move_assignments(spark):
    """Iteration must do work: the init-only assignment (1 iter) differs
    from the converged-further one (3 iters)."""
    e = load(spark, SF, "embeddings")
    a1 = dict(map(tuple, kmeans_assign(e, k=8, iters=1).collect()))
    a3 = dict(map(tuple, kmeans_assign(e, k=8, iters=3).collect()))
    assert a1 != a3


def test_kmeans_feeds_ivf_index_build(spark, tmp_path):
    """The full from-scratch index pipeline: k-means labels -> persisted
    IVF index -> partition-pruned probe returns ranked neighbors."""
    from hnarchive_spark.sources.ann_index import build_ivf_index, probe_ivf_topk

    e = load(spark, SF, "embeddings")
    labeled = e.join(kmeans_assign(e, k=8, iters=3), "vec_id").withColumn(
        "kmeans_list", F.col("list_id")
    )
    path = str(tmp_path / "ivf_kmeans")
    build_ivf_index(labeled, path, list_col="kmeans_list")
    out = probe_ivf_topk(spark, path, e.filter(F.col("vec_id") < 3), k=5, n_probe=2)
    rows = out.collect()
    assert {r["query_id"] for r in rows} == {0, 1, 2}
    for q in (0, 1, 2):
        ranks = sorted(r["rank"] for r in rows if r["query_id"] == q)
        assert ranks == [1, 2, 3, 4, 5]


def test_map_side_argmin_equals_join_form(spark):
    """The numpy pandas-UDF assignment (``_assign_pass``) must pick exactly
    the row the broadcast-join + window form (``_assign_join``) picks:
    6-decimal rounded squared distance, ties to the smaller list id.
    Seeded vectors with negative coordinates, plus exact distance ties,
    ties that only appear after rounding, and duplicate centroids listed
    out of list-id order."""
    import random

    from hnarchive_spark.operators.kmeans import _assign_join, _assign_pass

    rng = random.Random(20)
    dim = 4
    vecs = [[rng.uniform(-3, 3) for _ in range(dim)] for _ in range(150)]
    vecs += [[round(rng.uniform(-3, 3), 1) for _ in range(dim)] for _ in range(50)]
    vecs += [
        [1.0, 0.0, 0.0, 0.0],  # exactly midway between list 7 and list 3
        [-1.0, -1.0, 0.0, 0.0],  # equidistant from all four axis centroids
        [0.0, 0.0, 0.0, 0.0],
        [0.0, 0.0003, 0.0, 0.0],  # 1e-7-apart distances round to one value
    ]
    e = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, v array<double>"
    )
    axis = [
        (7, [0.0, 0.0, 0.0, 0.0]),
        (3, [2.0, 0.0, 0.0, 0.0]),
        (5, [-2.0, -1.0, 0.0, 0.0]),
        (1, [-1.0, -2.0, 0.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),
        (6, [0.0, -1.0, 0.0, 0.0]),
        (9, [0.0, 0.0003, 0.0, 0.0003162]),
    ]
    rand = [(j, [rng.uniform(-3, 3) for _ in range(dim)]) for j in range(8)]
    dup = [(10 - j, c) for j, c in rand[:4]] + [(j, c) for j, c in rand[:4]]
    for cents in (axis, rand, dup):
        cent_df = spark.createDataFrame(cents, "list_id long, centroid array<double>")
        got = sorted(map(tuple, _assign_pass(e, cents, keep_vec=False).collect()))
        want = sorted(map(tuple, _assign_join(e, cent_df, keep_vec=False).collect()))
        assert got == want
