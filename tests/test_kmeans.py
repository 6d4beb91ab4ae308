"""Distributed Lloyd's k-means: determinism, partition properties, and the
end-to-end index-build path (kmeans labels -> persisted IVF index -> probe).
Also the numpy kernels' Spark replicas against their Spark forms:
``spark_round``, the map-side argmin and the driver-side IVF routing.
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
    # the zero vector's squared distances 8527894.2729225 (Spark rounds it
    # up) and 8527894.272922; a NaN distance, which Spark sorts last; and a
    # 1.6e13 distance, whose e6-scaled value does not fit an int64
    magnitude = [
        (0, [2920.25585744169, 0.0, 0.0, 0.0]),
        (1, [2920.2558574415843, 0.0, 0.0, 0.0]),
    ]
    nan = [(0, [float("nan"), 0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0, 0.0])]
    large = [(0, [4e6, 0.0, 0.0, 0.0]), (1, [5.0, 0.0, 0.0, 0.0])]
    for cents in (axis, rand, dup, magnitude, nan, large):
        cent_df = spark.createDataFrame(cents, "list_id long, centroid array<double>")
        got = sorted(map(tuple, _assign_pass(e, cents, keep_vec=False).collect()))
        want = sorted(map(tuple, _assign_join(e, cent_df, keep_vec=False).collect()))
        assert got == want


def _same_doubles(a, b) -> bool:
    """Bitwise equality of two float64 arrays, NaN equal to NaN."""
    import numpy as np

    a, b = np.asarray(a, dtype="float64"), np.asarray(b, dtype="float64")
    return bool(
        ((a.view("int64") == b.view("int64")) | (np.isnan(a) & np.isnan(b))).all()
    )


def test_spark_round_matches_spark(spark):
    """``spark_round`` returns exactly the double Spark's ``round(d, 6)`` and
    ``round(d, 0)`` return: HALF_UP boundary decimals from 1e-3 to 1e13,
    both signs, random doubles, +-0.0, +-inf and NaN."""
    import random

    from hnarchive_spark.operators.kmeans import spark_round

    rng = random.Random(14)
    vals = [0.0, -0.0, float("inf"), -float("inf"), float("nan"), 2.0**53 + 2, -1e300]
    for _ in range(1000):
        ip = int(10.0 ** rng.uniform(-3, 13))
        digits = "".join(str(rng.randint(0, 9)) for _ in range(6))
        sign = rng.choice((1, -1))
        # the digit just past the rounding position is exactly 5
        vals.append(sign * float(rng.choice((f"{ip}.5", f"{ip}.{digits}5"))))
        vals.append(sign * 10.0 ** rng.uniform(-3, 13))
    df = spark.createDataFrame(list(enumerate(vals)), "i long, d double")
    rows = sorted(
        df.select("i", F.round("d", 6).alias("r6"), F.round("d", 0).alias("r0")).collect()
    )
    assert _same_doubles(spark_round(vals, 6), [r["r6"] for r in rows])
    assert _same_doubles(spark_round(vals, 0), [r["r0"] for r in rows])


def test_route_driver_matches_ivf_probes(spark):
    """Driver-side IVF routing (``ann_index._route_driver``) returns exactly
    the probes ``similarity.ivf_probes`` computes in Spark (crossJoin +
    ``round(cosine * 1e6, 0).cast("long")`` + window), on seeded rows with
    negative cosines, exact ties (a scaled centroid) and duplicate
    centroids.  A zero-norm query or centroid raises on both sides."""
    import random

    import pytest

    from hnarchive_spark.operators.kmeans import _cent_pairs
    from hnarchive_spark.operators.similarity import DIM, ivf_probes
    from hnarchive_spark.sources.ann_index import _route_driver

    rng = random.Random(14)
    cents = [(j, [rng.uniform(-1, 1) for _ in range(DIM)]) for j in range(8)]
    cents += [(8, cents[3][1]), (9, [2.0 * x for x in cents[5][1]])]
    queries = [(i, [rng.uniform(-1, 1) for _ in range(DIM)]) for i in range(30)]
    queries += [(30, cents[3][1]), (31, [-x for x in cents[5][1]])]

    def both(cents, queries, n_probe=3):
        # one corpus row per list: its mean is the centroid, bit for bit
        corpus = spark.createDataFrame(
            [(100 + lid, lid, c) for lid, c in cents],
            "vec_id long, label long, embedding array<double>",
        )
        q = spark.createDataFrame(queries, "vec_id long, embedding array<double>")
        want = sorted(
            (r["query_id"], r["list_id"], r["pr"], r["qn"])
            for r in ivf_probes(corpus, q, n_probe=n_probe).collect()
        )
        got = sorted(
            (qid, lid, pr, qn)
            for qid, _qv, qn, lid, pr in _route_driver(queries, _cent_pairs(cents), n_probe)
        )
        return got, want

    got, want = both(cents, queries)
    assert got == want
    assert len(got) == 3 * len(queries)
    zero = [0.0] * DIM
    for bad_cents, bad_queries, who in (
        (cents, queries + [(40, zero)], "query_id=40"),
        (cents + [(10, zero)], queries, "list_id=10"),
    ):
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            both(bad_cents, bad_queries)
        with pytest.raises(ValueError, match=who):
            _route_driver(bad_queries, _cent_pairs(bad_cents), 3)
