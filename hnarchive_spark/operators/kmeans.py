"""Distributed k-means (Lloyd's algorithm) over an embedding column — the
index-build step that produces IVF coarse-quantizer lists from scratch
(the testdata's pre-clustered `label` column is what a previous k-means run
would have produced; this operator IS that run).

Iterative algorithms are the classic "Spark beats SQL" shape: each Lloyd
iteration is one broadcast-join pass over the corpus (assignment) plus one
tiny aggregate (new centroids).  The corpus is never collected; only the
k x dim centroid matrix moves to the driver between iterations (bounded
small by construction, the same contract as the bucket lists elsewhere).

Determinism contract (what makes the result oracle-checkable):
* init: centroids = the k vectors with the smallest ids (no RNG);
* assignment: argmin of squared-euclidean distance ROUNDED to 6 decimals,
  ties broken by the smaller list id — identical rounding on both engines
  makes the argmin engine-independent;
* fixed iteration count (no float-epsilon convergence test).
Empty clusters simply drop out (both engines recompute means only over
non-empty lists).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hnarchive_spark.operators.similarity import DIM, as_double, sq_dist as _sq_dist

# Above this many centroids the map-side argmin (a numpy pandas UDF that
# closes over the k x dim centroid matrix) is no longer sane; fall back to
# the broadcast-join + window form.  Every registered codebook (KMEANS_K=8,
# PQ_K=8, IVF lists) is far below it; a production coarse quantizer that
# outgrows this bound needs the join form anyway because its centroid
# matrix stops being expression-sized.
ARGMIN_LITERAL_MAX = 1024


def spark_round(d, scale: int):
    """numpy replica of Spark ``round(d, scale)`` on DoubleType, element for
    element: ``BigDecimal.valueOf(d).setScale(scale, HALF_UP).doubleValue()``
    with NaN and +-inf passed through.  A zero result is always +0.0
    (BigDecimal has no negative zero).

    ``BigDecimal.valueOf`` takes the SHORTEST round-trip decimal of ``d``
    (``Double.toString``; ``repr`` is the same decimal), and HALF_UP rounds
    halves away from zero.  Fast path: ``y = d * 10**scale`` rounded to the
    nearest integer ``m`` is the HALF_UP integer unless ``y`` sits within
    float error of a .5 boundary, and ``m / 10**scale`` is then exactly
    Spark's double (``m`` is exact below 2**53 and the division rounds
    once, as ``doubleValue`` does).  Cells whose fraction lies within
    ``max(1e-4, |y| * 2**-50)`` of .5 -- at least four float spacings of
    ``y`` -- are recomputed exactly in ``decimal`` from ``repr(d)``; past
    ~2**49 that window covers nearly every cell.  Doubles of magnitude
    2**53 or more are integers and round to themselves."""
    import numpy as np

    d = np.asarray(d, dtype="float64")
    p = 10.0**scale
    with np.errstate(over="ignore", invalid="ignore"):
        y = d * p
        fy = np.floor(y)
        frac = y - fy
        out = (fy + (frac >= 0.5)) / p
        big = np.abs(d) >= 2.0**53
        slow = (np.abs(frac - 0.5) < np.maximum(1e-4, np.abs(y) * 2.0**-50)) & ~big
    np.copyto(out, d, where=big)
    if slow.any():
        from decimal import ROUND_HALF_UP, Context, Decimal

        ctx = Context(prec=64, rounding=ROUND_HALF_UP)
        q = Decimal(1).scaleb(-scale)
        idx = np.nonzero(slow)
        out[idx] = [
            float(Decimal(repr(float(v))).quantize(q, context=ctx)) for v in d[idx]
        ]
    return out + 0.0


def _np_argmin(V, cents: list[tuple[int, list[float]]]):
    """list_id of the nearest centroid per row of ``V`` (n x dim float64):
    the row :func:`_assign_join`'s window keeps, ``round(sq_dist, 6)``
    ascending and then list_id ascending.

    The squared distance accumulates PER DIMENSION across all rows
    (acc += (x_i-c_i)^2, the IEEE-754 operation order of similarity.sq_dist's
    sequential zip_with/aggregate fold) and :func:`spark_round` turns it
    into the double Spark sorts.  Those doubles are compared as they are,
    never through a scaled integer: a squared distance is >= 0, where the
    int64 bit pattern orders exactly as the double does, and NaN is keyed
    past +inf because Spark sorts NaN after every value.  Ties break to the
    smaller list_id (columns in ascending list_id; np.argmin returns the
    FIRST minimum)."""
    import numpy as np

    cents = sorted(cents, key=lambda t: t[0])
    lids = np.array([lid for lid, _ in cents], dtype="int64")
    n = V.shape[0]
    R = np.empty((n, len(cents)), dtype="float64")
    for j, (_lid, c) in enumerate(cents):
        acc = np.zeros(n, dtype="float64")
        for i, ci in enumerate(c):
            d = V[:, i] - ci
            acc += d * d
        R[:, j] = spark_round(acc, 6)
    key = R.view("int64")
    key[np.isnan(R)] = np.iinfo("int64").max
    return lids[np.argmin(key, axis=1)]


def _argmin_udf(cents: list[tuple[int, list[float]]]):
    """pandas UDF: array<double> vector -> nearest list_id (long).
    ``cents`` comes normalized from :func:`_cent_pairs`."""
    import numpy as np

    @F.pandas_udf("long")
    def assign(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="int64")
        V = np.array(vs.tolist(), dtype="float64")
        return pd.Series(_np_argmin(V, cents))

    return assign


def _pq_codes_udf(by_m: dict[int, list[tuple[int, list[float]]]], sub: int, n_sub: int):
    """pandas UDF: full vector -> array<long> of the n_sub subspace codes,
    ONE Python crossing per row for ALL codebooks (guide §4.1: pass the
    columns once, batch the work).  ``by_m`` comes normalized from
    :func:`pq_assign`."""
    import numpy as np

    @F.pandas_udf("array<long>")
    def codes(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="object")
        V = np.array(vs.tolist(), dtype="float64")
        out = np.empty((V.shape[0], n_sub), dtype="int64")
        for m in range(n_sub):
            out[:, m] = _np_argmin(V[:, m * sub : (m + 1) * sub], by_m[m])
        return pd.Series(list(out))

    return codes


def _cent_pairs(centroids) -> list[tuple[int, list[float]]]:
    """Normalize a centroid spec (Row list / tuple list) to (list_id, vec)."""
    return [(int(r[0]), [float(x) for x in r[1]]) for r in centroids]


def _assign_pass(e: DataFrame, cents: list[tuple[int, list[float]]], keep_vec: bool = True) -> DataFrame:
    """One nearest-centroid assignment pass over (vec_id, v) rows."""
    if not cents:
        # Empty centroid set (empty corpus seed): the join form degraded
        # gracefully to zero rows; the literal form would build a
        # void-typed F.array() that fails analysis — short-circuit to the
        # same empty result (ADVICE r18).
        cols = ["vec_id", "v"] if keep_vec else ["vec_id"]
        return e.select(
            *cols, F.lit(None).cast("long").alias("list_id")
        ).limit(0)
    if len(cents) <= ARGMIN_LITERAL_MAX:
        cols = ["vec_id", "v"] if keep_vec else ["vec_id"]
        return e.select(*cols, _argmin_udf(cents)(F.col("v")).alias("list_id"))
    # join fallback for expression-unfriendly centroid counts — the
    # previously verified broadcast-join + window form, same contract
    cent_df = e.sparkSession.createDataFrame(
        cents, "list_id long, centroid array<double>"
    )
    return _assign_join(e, cent_df, keep_vec)


def _assign_join(e: DataFrame, cent_df: DataFrame, keep_vec: bool) -> DataFrame:
    """Broadcast-join + window assignment against a centroid DataFrame —
    the >ARGMIN_LITERAL_MAX fallback, identical scoring contract."""
    scored = e.crossJoin(F.broadcast(cent_df)).select(
        "vec_id",
        "v",
        "list_id",
        F.round(_sq_dist(F.col("v"), F.col("centroid")), 6).alias("dist"),
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "list_id")
    assign = (
        scored.select("vec_id", "v", "list_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
    )
    cols = ["vec_id", "v", "list_id"] if keep_vec else ["vec_id", "list_id"]
    return assign.select(*cols)


def kmeans_assign(
    vectors: DataFrame,
    k: int,
    iters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
    keep_vec: bool = False,
    return_centroids: bool = False,
) -> DataFrame:
    """(vec_id, list_id) after ``iters`` Lloyd iterations from the
    deterministic k-smallest-ids init.  Integer output only — the float
    distances exist transiently inside each assignment pass.  ``dim`` is the
    vector length (defaults to the corpus DIM; product-quantization callers
    pass the subvector length).  ``keep_vec=True`` also returns the double
    vector ``v`` so downstream per-cluster work (SemDeDup) avoids a second
    corpus join.  ``return_centroids=True`` returns
    ``(assign_df, centroids)`` where ``centroids`` is the (list_id,
    centroid) row list the FINAL assignment pass scored against — the
    quantizer a persisted index freezes: replaying
    :func:`kmeans_assign_frozen` with it reproduces the assignment
    bit-for-bit."""
    e = vectors.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
    )

    # init: the k smallest ids, list_id = rank within them
    init = (
        e.orderBy("vec_id")
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("list_id"),
            F.col("v").alias("centroid"),
        )
    )
    centroids = init.collect()  # k rows — bounded small

    assign, used = None, centroids
    for _ in range(iters):
        used = centroids
        assign = _assign_pass(
            e, _cent_pairs([(r["list_id"], r["centroid"]) for r in centroids])
        )
        dim_cols = [F.avg(F.col("v")[i]).alias(f"c{i}") for i in range(dim)]
        centroids = (
            assign.groupBy("list_id")
            .agg(*dim_cols)
            .select(
                "list_id",
                F.array(*[F.col(f"c{i}") for i in range(dim)]).alias("centroid"),
            )
            .collect()
        )

    out = assign.select("vec_id", "v", "list_id") if keep_vec else assign.select("vec_id", "list_id")
    if return_centroids:
        return out, used
    return out


def kmeans_assign_frozen(
    vectors: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """One assignment pass against FROZEN centroids — the probe side of a
    persisted clustering index (zero training at query time).  Identical
    scoring contract to :func:`kmeans_assign`'s assignment step
    (6-decimal rounded squared distance, list-id tiebreak), so assigning
    against the centroids :func:`kmeans_assign` returned reproduces its
    final assignment exactly.  ``centroids`` is a (list_id, centroid)
    row list or a DataFrame with those columns (a persisted k-row centroid
    table is collected here — metadata-width, the same k x dim matrix
    :func:`kmeans_assign` already holds on the driver per iteration).
    A DataFrame quantizer LARGER than ARGMIN_LITERAL_MAX is never
    collected: a bounded ``limit(MAX+1)`` probe decides, and the big case
    joins against the DataFrame directly (ADVICE r18 — the old
    unconditional collect was a driver round-trip exactly in the case the
    join fallback exists for)."""
    e = vectors.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
    )
    if isinstance(centroids, DataFrame):
        cent_df = centroids.select("list_id", "centroid")
        head = cent_df.limit(ARGMIN_LITERAL_MAX + 1).collect()
        if len(head) > ARGMIN_LITERAL_MAX:
            return _assign_join(e, cent_df, keep_vec)
        centroids = head
    return _assign_pass(
        e,
        _cent_pairs([(r["list_id"], r["centroid"]) for r in centroids]),
        keep_vec=keep_vec,
    )


def pq_assign(
    vectors: DataFrame,
    n_sub: int,
    k: int,
    iters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
    return_codebook: bool = False,
):
    """Product-quantization codes: (vec_id, code_0..code_{n_sub-1}).
    With ``return_codebook=True`` returns ``(codes_df, centroids)`` where
    ``centroids`` is the (m, list_id, centroid) list the FINAL assignment
    used — the codebook a reader needs to decode (or ADC-search) the codes.

    Semantically identical to running :func:`kmeans_assign` once per
    subvector slice (same k-smallest-ids init, 6-decimal rounded distances,
    list-id tiebreak, fixed iterations — the oracle replays exactly that),
    but ALL ``n_sub`` codebooks assign in ONE map-side corpus pass per
    iteration: every subspace's argmin runs in ONE numpy pandas UDF in the
    same projection (guide §2.4 — the previous explode-to-(vec_id, m) +
    broadcast-join + Window(vec_id, m) + final pivot shape shuffled
    n*n_sub*k scored rows per iteration plus a pivot aggregate; this
    form's only exchange is the tiny (m, list_id) centroid-update
    aggregate between iterations).  Only the n_sub * k * sub_dim centroid
    matrix ever reaches the driver."""
    sub = dim // n_sub
    e = vectors.select(
        F.col(id_col).alias("vec_id"), as_double(F.col(vec_col)).alias("v")
    )

    seed = e.orderBy("vec_id").limit(k).collect()  # k rows — bounded small
    if not seed:
        # empty corpus: degrade to an empty codes frame like the old join
        # form did (ADVICE r18 — by_m[m] below would KeyError)
        codes = e.select(
            "vec_id",
            *[F.lit(None).cast("long").alias(f"code_{m}") for m in range(n_sub)],
        ).limit(0)
        return (codes, []) if return_codebook else codes
    centroids = [
        (m, j, [float(x) for x in r["v"][m * sub : (m + 1) * sub]])
        for m in range(n_sub)
        for j, r in enumerate(seed)
    ]

    def slice_m(m: int) -> F.Column:
        return F.expr(f"slice(v, {m * sub + 1}, {sub})")

    assign_wide = None
    for it in range(iters):
        by_m: dict[int, list[tuple[int, list[float]]]] = {}
        for m, lid, c in centroids:
            by_m.setdefault(int(m), []).append((int(lid), [float(x) for x in c]))
        # ONE pandas UDF computes all n_sub codes (one Python crossing
        # per row); the array lands in an inner projection so the UDF
        # evaluates once, the outer select just extracts elements
        cu = _pq_codes_udf(by_m, sub, n_sub)
        assign_wide = e.select(
            "vec_id", "v", cu(F.col("v")).alias("_codes")
        ).select(
            "vec_id",
            "v",
            *[F.col("_codes")[m].alias(f"code_{m}") for m in range(n_sub)],
        )
        if it < iters - 1:
            # centroid update: explode ONLY the (m, code, sub_v) triples the
            # aggregate needs — the corpus-wide argmin stays un-exploded
            trip = assign_wide.select(
                F.explode(
                    F.array(*[
                        F.struct(
                            F.lit(m).alias("m"),
                            F.col(f"code_{m}").alias("list_id"),
                            slice_m(m).alias("sub_v"),
                        )
                        for m in range(n_sub)
                    ])
                ).alias("t")
            ).select("t.m", "t.list_id", "t.sub_v")
            dim_cols = [F.avg(F.col("sub_v")[i]).alias(f"c{i}") for i in range(sub)]
            centroids = [
                (int(r["m"]), int(r["list_id"]), [r[f"c{i}"] for i in range(sub)])
                for r in trip.groupBy("m", "list_id").agg(*dim_cols).collect()
            ]

    codes = assign_wide.select(
        "vec_id", *[F.col(f"code_{m}") for m in range(n_sub)]
    )
    if return_codebook:
        return codes, centroids
    return codes


def pq_adc_topk(
    vectors: DataFrame,
    n_queries: int,
    n_sub: int,
    k: int,
    iters: int,
    topk: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DIM,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over PQ codes — the query
    path that makes PQ compression useful: the corpus is touched only as
    small integer codes, never as raw vectors.

    Per query: an (n_sub x k) squared-distance lookup table between the
    query's subvectors and the codebook (here n_queries * n_sub * k rows
    total — broadcast), then each corpus vector's approximate distance is
    the SUM of n_sub table lookups keyed by its codes.  Distances enter the
    sum as e6-scaled BIGINTs, so the aggregation is exact integer math —
    immune to float summation order — and the ranking (adc ASC, id ASC) is
    a total order.  At 100 TB the corpus side carries ~n_sub bytes per
    vector instead of 4*dim, the scan is one broadcast-join + partial-agg,
    and no shuffle moves raw vectors."""
    sub = dim // n_sub
    spark = vectors.sparkSession
    codes, centroids = pq_assign(
        vectors, n_sub, k, iters, id_col=id_col, vec_col=vec_col, dim=dim,
        return_codebook=True,
    )
    cent_df = spark.createDataFrame(
        centroids, "m int, list_id long, centroid array<double>"
    )
    q = vectors.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("v")
    ).filter(F.col("query_id") < n_queries)
    q_sub = q.select(
        "query_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("m"),
        F.expr(f"slice(v, m * {sub} + 1, {sub})").alias("qsub"),
    )
    dtab = q_sub.join(F.broadcast(cent_df), "m").select(
        "query_id",
        "m",
        F.col("list_id").alias("code"),
        F.round(_sq_dist(F.col("qsub"), F.col("centroid")) * 1_000_000, 0)
        .cast("long")
        .alias("d_e6"),
    )
    stack = ", ".join(f"{m}, code_{m}" for m in range(n_sub))
    code_long = codes.select(
        "vec_id", F.expr(f"stack({n_sub}, {stack}) AS (m, code)")
    )
    scored = (
        code_long.join(F.broadcast(dtab), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d_e6").alias("adc_e6"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_e6", "vec_id")
    return (
        scored.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "adc_e6",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= topk)
    )


def ivf_pq_adc_topk(
    vectors: DataFrame,
    n_queries: int,
    n_sub: int,
    k: int,
    iters: int,
    topk: int,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    list_col: str = "label",
    dim: int = DIM,
) -> DataFrame:
    """IVF-PQ search — the composition of the two registered scale paths
    and the standard production ANN architecture (FAISS IVFPQ with
    by_residual=false): coarse IVF routing picks ``n_probe`` inverted
    lists per query, then PQ asymmetric-distance scoring runs over the
    integer codes of THOSE lists only.

    Cost per query at 100 TB: n_lists centroid rows for routing (broadcast
    scalar) + n_probe/n_lists of the corpus touched as ~n_sub-byte codes —
    the two pruning levers multiply: IVF prunes which vectors are read,
    PQ shrinks what is read per vector.  Both halves keep their exact
    determinism contracts (cosine-e6 routing with list-id tiebreak;
    e6-integer ADC sums with (adc ASC, id ASC) total ranking), so the
    compound approximate operator is still value-hash oracle-checkable.
    Vectors in probed lists are excluded only by identity, exactly like
    pq_adc_topk."""
    from hnarchive_spark.operators.similarity import ivf_probes

    sub = dim // n_sub
    spark = vectors.sparkSession
    codes, centroids = pq_assign(
        vectors, n_sub, k, iters, id_col=id_col, vec_col=vec_col, dim=dim,
        return_codebook=True,
    )
    cent_df = spark.createDataFrame(
        centroids, "m int, list_id long, centroid array<double>"
    )
    queries = vectors.filter(F.col(id_col) < n_queries)
    probes = ivf_probes(
        vectors, queries, id_col=id_col, vec_col=vec_col, list_col=list_col,
        n_probe=n_probe,
    )
    q_sub = probes.select("query_id", "qv").distinct().select(
        "query_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("m"),
        F.expr(f"slice(qv, m * {sub} + 1, {sub})").alias("qsub"),
    )
    dtab = q_sub.join(F.broadcast(cent_df), "m").select(
        "query_id",
        "m",
        F.col("list_id").alias("code"),
        F.round(_sq_dist(F.col("qsub"), F.col("centroid")) * 1_000_000, 0)
        .cast("long")
        .alias("d_e6"),
    )
    # candidate set: corpus ids in the query's probed lists — the join that
    # implements "read only n_probe inverted lists"
    labels = vectors.select(
        F.col(id_col).alias("vec_id"), F.col(list_col).alias("list_id")
    )
    cand = labels.join(
        F.broadcast(probes.select("query_id", "list_id")), "list_id"
    ).filter(F.col("vec_id") != F.col("query_id")).select("query_id", "vec_id")
    stack = ", ".join(f"{m}, code_{m}" for m in range(n_sub))
    code_long = codes.select(
        "vec_id", F.expr(f"stack({n_sub}, {stack}) AS (m, code)")
    )
    scored = (
        cand.join(code_long, "vec_id")
        .join(F.broadcast(dtab), ["query_id", "m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d_e6").alias("adc_e6"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_e6", "vec_id")
    return (
        scored.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "adc_e6",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= topk)
    )


def ivf_pq_residual_topk(
    vectors: DataFrame,
    n_queries: int,
    n_sub: int,
    k: int,
    iters: int,
    topk: int,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    list_col: str = "label",
    dim: int = DIM,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding (FAISS ``by_residual=true``, the
    production default): PQ codebooks train on and codes encode
    ``v - centroid[list(v)]`` instead of ``v``.  Residuals are centered
    near the origin regardless of which list a vector sits in, so one
    shared codebook spends its levels on local structure rather than on
    re-describing coarse cluster positions — the recall upgrade over
    ``ivf_pq_adc_topk`` at identical code size.

    The search-side consequence: the ADC lookup table becomes per
    (query, probed list) — the query's OWN residual differs per probed
    list (q - centroid[that list]) — so the LUT has
    n_queries * n_probe * n_sub * k rows, still broadcast-scalar.  All
    determinism contracts carry over (6-decimal distances with code
    tiebreak in training, e6-integer ADC sums, total (adc ASC, id ASC)
    ranking), so the operator is value-hash oracle-checkable like its
    non-residual sibling.  Cost at 100 TB is identical to the plain
    composition: routing against n_lists centroid rows, only probed
    lists' ~n_sub-byte codes move."""
    from hnarchive_spark.operators.similarity import cosine

    sub = dim // n_sub
    spark = vectors.sparkSession
    e = vectors.select(
        F.col(id_col).alias("vec_id"),
        as_double(F.col(vec_col)).alias("v"),
        F.col(list_col).alias("list_id"),
    )
    # per-list mean centroids — computed ONCE and shared by the residual
    # frame AND query routing below: the oracle derives both from a single
    # cent CTE, and two independently aggregated float averages could
    # disagree at the last ulp and flip an e6-rounded cell (review
    # finding, round 10) — besides costing a second corpus-wide pass
    dim_cols = [F.avg(F.col("v")[i]).alias(f"c{i}") for i in range(dim)]
    centroids = e.groupBy("list_id").agg(*dim_cols).select(
        "list_id", F.array(*[F.col(f"c{i}") for i in range(dim)]).alias("centroid")
    )
    # residuals: v - centroid[list(v)] — the corpus PQ trains/encodes on
    resid = (
        e.join(F.broadcast(centroids), "list_id")
        .select(
            "vec_id",
            "list_id",
            F.zip_with(F.col("v"), F.col("centroid"), lambda x, c: x - c).alias("r"),
        )
    )
    codes, codebook = pq_assign(
        resid, n_sub, k, iters, id_col="vec_id", vec_col="r", dim=dim,
        return_codebook=True,
    )
    cent_df = spark.createDataFrame(
        codebook, "m int, code long, centroid array<double>"
    )
    # routing inline against the SAME centroids frame (ivf_probes would
    # re-aggregate them from the corpus): cosine-e6 DESC, list-id tiebreak
    q = vectors.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    routed = q.crossJoin(F.broadcast(centroids)).select(
        "query_id",
        "qv",
        "list_id",
        F.round(cosine(F.col("qv"), F.col("centroid")) * 1_000_000, 0)
        .cast("long")
        .alias("ccos"),
    )
    wp = Window.partitionBy("query_id").orderBy(F.col("ccos").desc(), F.col("list_id"))
    probes = routed.select(
        "query_id", "qv", "list_id", F.row_number().over(wp).alias("pr")
    ).filter(F.col("pr") <= n_probe)
    # per-(query, probed list) residual -> per-(query, list) ADC LUT
    q_res = probes.join(F.broadcast(centroids), "list_id").select(
        "query_id",
        "list_id",
        F.zip_with(F.col("qv"), F.col("centroid"), lambda x, c: x - c).alias("qr"),
    )
    q_sub = q_res.select(
        "query_id",
        "list_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("m"),
        F.col("qr"),
    ).select("query_id", "list_id", "m", F.expr(f"slice(qr, m * {sub} + 1, {sub})").alias("qsub"))
    dtab = q_sub.join(F.broadcast(cent_df), "m").select(
        "query_id",
        "list_id",
        "m",
        "code",
        F.round(_sq_dist(F.col("qsub"), F.col("centroid")) * 1_000_000, 0)
        .cast("long")
        .alias("d_e6"),
    )
    # candidates: corpus codes restricted to the query's probed lists; the
    # codes rows already carry list_id via the residual frame
    stack = ", ".join(f"{m}, code_{m}" for m in range(n_sub))
    code_long = codes.join(
        resid.select("vec_id", "list_id"), "vec_id"
    ).select("vec_id", "list_id", F.expr(f"stack({n_sub}, {stack}) AS (m, code)"))
    scored = (
        code_long.join(F.broadcast(probes.select("query_id", "list_id")), "list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(dtab), ["query_id", "list_id", "m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d_e6").alias("adc_e6"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_e6", "vec_id")
    return (
        scored.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "adc_e6",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= topk)
    )
