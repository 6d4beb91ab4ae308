"""Plan-hygiene regression tests: lock in the scan/join properties the
100 TB design depends on (pushdown reaching parquet, narrow ReadSchema,
broadcast dims). These assert on the optimized/physical plan text so a
refactor that silently breaks pushdown fails here, not at scale."""

from __future__ import annotations

import pytest

from hnarchive_spark.plans.registry import all_queries

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    df = all_queries()[name](spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_derived_pred_pushdown_and_pruning(spark):
    plan = _plan(spark, "q_derived_pred")
    pushed = [ln for ln in plan.split("\n") if "PushedFilters" in ln]
    assert pushed and any("LessThan(l_shipdate" in ln for ln in pushed), pushed
    # projection pruned to the 5 referenced columns, not all 11
    schema_line = next(ln for ln in plan.split("\n") if "ReadSchema" in ln)
    assert schema_line.count(":") <= 6, schema_line


def test_point_lookup_pushes_key_filter(spark):
    plan = _plan(spark, "q_point_lookup")
    assert "EqualTo(o_orderkey,42)" in plan


def test_flagship_broadcasts_dims_no_cartesian(spark):
    plan = _plan(spark, "q_flagship")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_groupby_agg_is_partial_final(spark):
    plan = _plan(spark, "q_groupby_agg")
    # two HashAggregates (partial + final) around one exchange
    assert plan.count("HashAggregate") >= 2


@pytest.mark.parametrize("name", ["q_join_broadcast", "q_agg_rollup"])
def test_dimension_joins_broadcast(spark, name):
    plan = _plan(spark, name)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_contamination_bloom_prunes_before_semi_join(spark):
    """The train side must pass the broadcast Bloom probe (3 broadcast hash
    joins + bit-test filters) BEFORE the shingle semi-join exchange."""
    plan = _plan(spark, "q_contamination")
    assert plan.count("BroadcastHashJoin") >= 3, plan.count("BroadcastHashJoin")
    assert "LeftSemi" in plan
    # the bit-test filter from operators/bloom.py survives into the plan
    assert "shiftleft" in plan


def test_tree_closure_uses_recursive_cte(spark):
    """q_tree_closure must run as ONE recursive-CTE job (UnionLoop operator),
    not a per-level loop with driver round-trips."""
    from hnarchive_spark.plans.registry import all_queries

    df = all_queries()["q_tree_closure"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Loop" in plan, plan[:500]


def test_ann_index_probe_is_partition_pruned(spark):
    """The persisted-index probe must scan ONLY the query buckets —
    PartitionFilters on the bucket column, not a full-index scan."""
    df = all_queries_cached()["q_ann_lsh_indexed"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.split("\n") if "PartitionFilters" in ln]
    assert pf and any("bucket" in ln for ln in pf), pf


def test_ivf_index_probe_is_partition_pruned(spark):
    """The persisted-IVF probe must scan ONLY the probed lists
    (PartitionFilters on list_id) and must NOT recompute centroids from the
    corpus at query time (no corpus-wide aggregate feeding the routing —
    the centroid read is a tiny <index>/centroids scan)."""
    df = all_queries_cached()["q_ann_ivf_indexed"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.split("\n") if "PartitionFilters" in ln]
    assert pf and any("list_id" in ln for ln in pf), pf


def test_ivf_indexed_matches_online_ivf(spark):
    """Persisted-index IVF must return exactly the on-the-fly ivf_topk
    result at the same n_probe (same centroid means, same rounding)."""
    qs = all_queries_cached()
    a = {tuple(r) for r in qs["q_ann_ivf_indexed"](spark, SF).collect()}
    b = {tuple(r) for r in qs["q_ann_ivf_probe2"](spark, SF).collect()}
    assert a == b and len(a) > 0


def test_embed_dup_cap_binds(spark):
    """The hot-bucket cap must actually drop candidates on this corpus
    (bucket sizes straddle the cap) — otherwise the capped query would be
    an untested alias of the uncapped one."""
    from hnarchive_spark.operators.similarity import lsh_dup_pairs
    from hnarchive_spark.plans.similarity import COS_DUP_T, EMBED_DUP_MAX_BUCKET
    from hnarchive_spark.tables import load

    e = load(spark, SF, "embeddings")
    uncapped = {tuple(r) for r in lsh_dup_pairs(e, COS_DUP_T).collect()}
    capped = {tuple(r) for r in lsh_dup_pairs(e, COS_DUP_T, EMBED_DUP_MAX_BUCKET).collect()}
    assert capped < uncapped or capped == uncapped  # never invents pairs
    assert len(capped) < len(uncapped), "cap did not bind on the test corpus"


def all_queries_cached():
    from hnarchive_spark.plans.registry import all_queries

    return all_queries()


def test_embed_dup_has_no_cartesian(spark):
    """The canonical embedding near-dup is the banded-LSH bucket join: an
    all-pairs cross join must never be reachable from the registry."""
    plan = _plan(spark, "q_embed_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_orders_dist_preaggregates_before_join(spark):
    """Q13 shape: the orders side must collapse to per-custkey counts BEFORE
    the outer join (partial+final HashAggregate), and the orders scan must
    read only o_custkey."""
    plan = _plan(spark, "q_orders_per_customer_dist")
    assert plan.count("HashAggregate") >= 4  # count-agg pair + histogram pair
    orders_schema = [ln for ln in plan.split("\n") if "ReadSchema" in ln and "o_custkey" in ln]
    assert orders_schema and all(ln.count(":") <= 2 for ln in orders_schema), orders_schema


def test_bm25_has_no_token_explode(spark):
    """q_bm25_lite computes tf via array filter on the tokenized row — a
    Generate (explode) in the plan would mean a token-level row blowup
    through the exchange."""
    plan = _plan(spark, "q_bm25_lite")
    assert "Generate" not in plan, "token explode leaked into the BM25 plan"
    assert "CartesianProduct" not in plan  # terms+stats are broadcast joins


def test_bigram_topk_is_take_ordered(spark):
    """q_bigram_lm's top-k must plan as TakeOrderedAndProject (per-partition
    heaps + driver merge of k rows), never a global single-partition sort."""
    plan = _plan(spark, "q_bigram_lm")
    assert "TakeOrderedAndProject" in plan, plan[:800]


def test_pagerank_joins_are_broadcast_no_cartesian(spark):
    """Rank/degree tables are one-row-per-user — every per-iteration join
    must be a broadcast hash join, and nothing may plan as a cartesian."""
    plan = _plan(spark, "q_pagerank")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 6  # 2 joins x 3 iterations


def test_global_index_windows_partition_by_bucket(spark):
    """The data-row windows must partition by the bucket column (parallel);
    only the metadata-sized bucket-offset window may be single-partition."""
    plan = _plan(spark, "q_global_index")
    assert "hashpartitioning(bucket" in plan, "data window lost its bucket partitioning"


def test_sole_late_supplier_broadcasts_supplier_dim(spark):
    plan = _plan(spark, "q_sole_late_supplier")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# --- no low-cardinality-key windows over fact rows (round-6 weak-six fix) ---

_LOW_CARD_KEYS = {"source", "priority", "event_type", "c_mktsegment"}
# operators that bound the rows a window's input can carry: a per-key window
# is scale-safe iff one of these sits between it and the scan
_ROW_REDUCERS = ("Aggregate [", "MapInPandas", "WindowGroupLimit")


def _window_partition_cols(line: str) -> list[str]:
    """Parse the partition spec (second-to-last bracket group) of an
    optimized-plan Window line:
    ``Window [<exprs>], [k#1, k2#2], [v#3 ASC ...]``."""
    groups = line.rstrip().split("], [")
    if len(groups) < 3:
        return []
    part = groups[-2]
    return [c.strip().split("#")[0] for c in part.split(",") if c.strip()]


@pytest.mark.parametrize(
    "name",
    [
        "q_corpus_datacard",
        "q_select_token_budget",
        "q_reservoir_per_source",
        "q_decile_binning_scalable",
        "q_lorenz_deciles",
        "q_percentile_rank_transform",
        "q_gini_revenue",
        "q_mode_per_group",
        "q_shard_assignment_scalable",
        "q_percentiles_scalable",
    ],
)
def test_no_low_card_window_over_fact_rows(spark, name):
    """Every Window partitioned by a single low-cardinality key must run
    over metadata-sized input (an Aggregate, a mapInPandas pre-filter, or a
    pushed WindowGroupLimit beneath it) — the per-key fact-row sort idiom
    that serializes a 100 TB key onto one task must not be reachable from
    these plans.  Fact-row windows from operators/rankselect.py are fine:
    they partition by (key, value-bucket), i.e. >= 2 columns."""
    df = all_queries_cached()[name](spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.split("\n")

    def depth(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    for i, ln in enumerate(lines):
        if "Window [" not in ln:
            continue
        cols = _window_partition_cols(ln)
        if len(cols) != 1 or cols[0] not in _LOW_CARD_KEYS:
            continue
        d = depth(ln)
        subtree = []
        for nxt in lines[i + 1 :]:
            if depth(nxt) <= d:
                break
            subtree.append(nxt)
        assert any(r in s for s in subtree for r in _ROW_REDUCERS), (
            f"{name}: Window partitioned by [{cols[0]}] runs over raw fact "
            f"rows:\n{ln}\n" + "\n".join(subtree[:6])
        )


def _analyzed(spark, name):
    df = all_queries()[name](spark, SF)
    return df._jdf.queryExecution().analyzed().toString()


def test_triangle_count_oriented_no_cartesian_no_forced_broadcast(spark):
    """The degree-ordered orientation must be in the plan (the dst_deg
    tiebreak column the wedge filter compares on), the wedge-close must
    stay an equi-join (no cartesian), and the per-vertex degree table —
    |V| rows, 25M+ at 100x scale — must NOT carry a forced broadcast
    hint: AQE size-gates the join strategy at runtime instead."""
    plan = _plan(spark, "q_triangle_count")
    # the degree-tiebreak orientation CASE survives into the physical plan
    # (the dst_deg alias itself is collapsed by projection pruning)
    assert "CASE WHEN ((da" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ResolvedHint" not in _analyzed(spark, "q_triangle_count")


def test_lpa_no_forced_broadcast_of_community_sizes(spark):
    """The per-community size table is bounded only by |V| (every node can
    start as its own community), so the join back onto labels must be a
    plain shuffle join — no forced broadcast hint anywhere in the LPA plan."""
    assert "ResolvedHint" not in _analyzed(spark, "q_lpa_communities")


def test_link_prediction_no_forced_broadcast_of_degrees(spark):
    """Link prediction attaches the same |V|-row degree table twice — both
    attaches must stay hint-free (AQE decides), and the wedge generation
    must remain an equi-join."""
    plan = _plan(spark, "q_link_prediction")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ResolvedHint" not in _analyzed(spark, "q_link_prediction")


def test_fuzzy_match_blocked_is_hash_join(spark):
    """The fuzzy compare must ride a hash join on the composite blocking
    key (brand x length-bucket x first-token) with Levenshtein as a join
    residual — never a nested-loop/cartesian all-pairs compare."""
    plan = _plan(spark, "q_fuzzy_match_blocked")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_fuzzy_match_fine_blocking_bounds_fanout(spark):
    """The composite block key must cut the max block size enough that the
    per-block quadratic compare beats brand-only blocking even after the
    3x neighbor-bucket probe fanout (pair compares scale with block^2)."""
    from hnarchive_spark.plans.analytics import FUZZY_LBKT_WIDTH
    from hnarchive_spark.tables import load
    from pyspark.sql import functions as F

    p = load(spark, SF, "part").selectExpr(
        "p_brand",
        "split(p_name, ' ')[0] AS ftok",
        f"length(p_name) div {FUZZY_LBKT_WIDTH} AS lbkt",
    )
    fine = (
        p.groupBy("p_brand", "ftok", "lbkt").count().agg(F.max("count")).first()[0]
    )
    brand = p.groupBy("p_brand").count().agg(F.max("count")).first()[0]
    assert 3 * fine * fine < brand * brand, (fine, brand)


def test_forecast_revenue_is_scan_bound_aggregate(spark):
    """TPC-H Q6 must stay joinless: full predicate pushdown into the scan
    and a partial+final aggregate — nothing else."""
    plan = _plan(spark, "q_forecast_revenue")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2
    pushed = [ln for ln in plan.split("\n") if "PushedFilters" in ln]
    assert pushed and any("GreaterThanOrEqual(l_shipdate" in ln for ln in pushed), pushed


def test_priority_pipeline_is_semi_join(spark):
    """TPC-H Q4's EXISTS must plan as a semi join (never a full join +
    dedup, never a cartesian); the 60-day lag rides as the residual."""
    plan = _plan(spark, "q_priority_pipeline")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_large_orders_preaggregates_lineitem(spark):
    """TPC-H Q18's HAVING must collapse lineitem to qualifying order keys
    BEFORE the orders/customer joins — the partial+final aggregate pair
    sits under the first join in the plan tree."""
    plan = _plan(spark, "q_large_orders")
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan
    # in the formatted tree the aggregate feeding the join appears above
    # (as a deeper child of) the join operator's header line
    tree = plan.split("== Physical Plan ==")[1]
    first_join = tree.index("BroadcastHashJoin") if "BroadcastHashJoin" in tree else tree.index("SortMergeJoin")
    assert "HashAggregate" in tree[:first_join + 2000]


def test_interval_overlap_is_bucketed_hash_join(spark):
    """The interval-overlap join must ride the (custkey, bucket) equi-key
    with the day-distance predicate as a residual — never a cartesian or
    a custkey-only join that re-creates per-customer-lifetime fanout."""
    plan = _plan(spark, "q_interval_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan
    # the bucket column participates in the equi-join keys
    assert "bkt" in plan and "blk" in plan


def test_ivfpq_no_cartesian_and_bounded_broadcasts(spark):
    """IVF-PQ (round 9): the only nested-loop joins allowed are the
    broadcast-scalar routing cross joins (queries x n_lists centroids /
    n_sub x k codebook rows — both metadata-sized by construction); the
    corpus may never enter one. The corpus-shaped cand-codes join must be
    a hash-family join on vec_id, and a raw CartesianProduct (neither
    side broadcast) must never appear anywhere."""
    plan = _plan(spark, "q_ann_ivfpq")
    assert "CartesianProduct" not in plan
    # corpus-shaped joins present as hash-family joins
    assert "HashJoin" in plan or "SortMergeJoin" in plan
    # every nested-loop join is a BROADCAST nested loop with the scalar
    # centroid table as the broadcast side; the probes subtree (which
    # contains the routing cross join) is instantiated twice (LUT build +
    # candidate restriction), giving 4 in the static plan. A refactor
    # that pushes the CORPUS into a nested loop raises this count.
    bnlj = plan.count("BroadcastNestedLoopJoin")
    assert bnlj <= 4, f"unexpected nested-loop joins: {bnlj}"


def test_vocab_coverage_broadcasts_vocab(spark):
    """The audit vocabulary (bounded at VOCAB_COVER_K rows by the rank
    filter) must join the (source, tok) aggregate as a broadcast — a
    shuffled vocab join would re-partition the corpus-derived aggregate
    for a 16-row table."""
    plan = _plan(spark, "q_vocab_coverage")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ivfpq_indexed_prunes_partitions_no_training(spark):
    """The persisted-IVF-PQ probe (round 10): the codes scan must carry a
    list_id partition filter (only probed lists' files are read), the ADC
    lookup table and probe set must join as broadcasts, and no
    CartesianProduct may appear. Nested-loop joins are allowed only for
    the broadcast-scalar routing cross join (queries x n_lists persisted
    centroid rows), whose subtree is instantiated three times (LUT build,
    candidate restriction, rank input) — 6 in the formatted plan's
    tree+detail text. A refactor that pushes the CORPUS into a
    nested loop raises this count."""
    plan = _plan(spark, "q_ann_ivfpq_indexed")
    assert "CartesianProduct" not in plan
    pf = [ln for ln in plan.split("\n") if "PartitionFilters" in ln]
    assert pf and any("list_id" in ln for ln in pf), pf
    assert "BroadcastHashJoin" in plan
    bnlj = plan.count("BroadcastNestedLoopJoin")
    assert bnlj <= 6, f"unexpected nested-loop joins: {bnlj}"


def test_bm25_indexed_prunes_buckets_and_pushes_terms(spark):
    """The persisted-text-index probe (round 10): the postings scan must
    carry a bucket partition filter (query-term buckets computed driver-
    side) AND push the exact-term filter to the parquet reader; the only
    cross join is the broadcast one-row stats table."""
    plan = _plan(spark, "q_bm25_indexed")
    assert "CartesianProduct" not in plan
    pf = [ln for ln in plan.split("\n") if "PartitionFilters" in ln]
    assert pf and any("bucket" in ln for ln in pf), pf
    push = [ln for ln in plan.split("\n") if "PushedFilters" in ln]
    assert push and any("term" in ln for ln in push), push


def test_substring_dedup_no_pairwise_join_and_forced_parallel_explode(spark):
    """q_substring_dedup's 100 TB shape: per-doc spans come from ONE
    gram-hash window pass (min/max doc marks duplication — the r12
    bake-off replaced the groupBy+semi-join spec form, 2.8x end-to-end)
    + per-doc window — a pairwise doc join (cartesian / nested-loop) must
    never be reachable, and the explicit-count repartition that
    parallelizes the CPU-heavy gram explode (15x row fan-out at constant
    bytes — both the scan planner and AQE coalescing under-provision it;
    6x slower without, measured r12) must survive in the plan as a
    non-coalescible exchange."""
    plan = _plan(spark, "q_substring_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "REPARTITION_BY_NUM" in plan, "explicit-count repartition lost"
    # ONE pass over the gram stream: a single Generate (explode) node —
    # formatted explain prints each node twice (tree + details) — and the
    # h-hash exchange feeding the dup-marking window
    assert plan.count("Generate") <= 2, "gram explode runs more than once"
    assert "hashpartitioning(h" in plan, "dup marking lost its h-window"


def test_substring_dedup_clean_no_pairwise_join(spark):
    """The clean transform shares q_substring_dedup's gram pipeline and
    adds string surgery over span rows — still no pairwise doc join, and
    the explicit-count repartition must survive here too.  (The gram
    pipeline's LeftSemi lives inside the localCheckpointed span subtree,
    invisible from the returned plan — q_substring_dedup's lock covers
    it.)"""
    plan = _plan(spark, "q_substring_dedup_clean")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "REPARTITION_BY_NUM" in plan


def test_substring_dedup_incremental_is_semi_join(spark):
    """The batch-vs-archive check must stay a semi-join into the archive
    gram set (O(batch) increments) with the parallelizing repartition —
    never a pairwise batch x archive doc join."""
    plan = _plan(spark, "q_substring_dedup_incremental")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "REPARTITION_BY_NUM" in plan
    assert "LeftSemi" in plan


def test_substring_dedup_indexed_probe_is_semi_join_no_cartesian(spark):
    """The persisted-gram-index probe: batch grams semi-join the index's
    hash set — never a pairwise join, and the batch-side explode keeps
    its forced parallelism. (The index build runs eagerly in built_once
    before this plan is captured, mirroring the other q_*_indexed
    locks.)"""
    plan = _plan(spark, "q_substring_dedup_indexed")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan
    assert "REPARTITION_BY_NUM" in plan


def test_domain_cap_rank_pushdown_and_pruning(spark):
    """q_domain_cap's 100 TB story is the rank pushdown: the rank<=K
    filter must plan as WindowGroupLimit PARTIAL before the domain
    exchange (each map task forwards at most K rows per domain it sees
    — a billion-doc hot domain costs the reduce side K rows per
    upstream task, never a full sorted partition), and the scan must
    prune to the 3 referenced columns."""
    plan = _plan(spark, "q_domain_cap")
    assert "WindowGroupLimit" in plan
    assert "row_number(), 20, Partial" in plan, plan
    schema_line = next(ln for ln in plan.split("\n") if "ReadSchema" in ln)
    assert schema_line.count(":") <= 4, schema_line


def test_dsir_bucket_stats_broadcast_no_corpus_join(spark):
    """q_dsir_weights: the only joins are the 256-row ratio table and the
    1-row totals — both broadcast; the corpus must never shuffle into a
    sort-merge join, and the two aggregations must be partial+final."""
    plan = _plan(spark, "q_dsir_weights")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 2, plan


def test_hybrid_rrf_fuses_without_corpus_blowup(spark):
    """q_hybrid_search_rrf: the dense leg must be the broadcast-query
    corpus pass (BroadcastNestedLoopJoin over the tiny query set — never
    a corpus x corpus product), the sparse leg the shingle equi-join,
    and the fusion a FullOuter of two k-rows-per-query frames."""
    plan = _plan(spark, "q_hybrid_search_rrf")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan, plan[:800]
    assert "FullOuter" in plan, plan[:800]


def test_hybrid_indexed_serves_from_indexes_only(spark):
    """q_hybrid_search_rrf_indexed: the serving path must touch ONLY the
    persisted indexes and the query rows — no corpus re-tokenize (no
    split(text) anywhere: the lexical leg reads postings), no k-means
    training (no avg() aggregate: the dense leg reads frozen centroids/
    codebooks), the postings scan partition-pruned to the query terms'
    buckets, and the fusion the same FullOuter of two k-rows-per-query
    frames as the inline form."""
    plan = _plan(spark, "q_hybrid_search_rrf_indexed")
    assert "split(text" not in plan, plan[:800]
    assert "avg(" not in plan, plan[:800]
    assert "FullOuter" in plan, plan[:800]
    assert "CartesianProduct" not in plan
    # the postings scan's partition filter carries the driver-computed
    # bucket list (the bm25_topk pruning discipline)
    pushed = [
        ln for ln in plan.split("\n")
        if "PartitionFilters" in ln and "bucket" in ln
    ]
    assert pushed, plan[:1200]


def test_hybrid_recall_arms_legs_stay_indexed(spark):
    """q_hybrid_recall_arms: the audited legs must be the SAME pruned
    index probes the serving query fuses — no corpus re-tokenize, no
    training aggregate; the exact-cosine arm is the only corpus pass
    (the offline audit cost) and fusion stays the k-row FullOuter."""
    plan = _plan(spark, "q_hybrid_recall_arms")
    assert "split(text" not in plan, plan[:800]
    assert "avg(" not in plan, plan[:800]
    assert "FullOuter" in plan, plan[:800]
    assert "CartesianProduct" not in plan


def test_minhash_indexed_does_no_signature_work(spark):
    """q_dedup_minhash_indexed's claim is ZERO signature computation at
    query time: candidates come from the persisted band rows, so the
    plan must contain no sig_* column (the wide-agg signature pipeline)
    and no MH permutation arithmetic — only the bands scans, the
    candidate self-join, and the re-shingle verify."""
    plan = _plan(spark, "q_dedup_minhash_indexed")
    assert "sig_0" not in plan and "sig_31" not in plan, plan[:800]
    # the verify leg's shingle explode IS expected; the banded parquet
    # scan must be present on both sides of the candidate join
    assert plan.count("band_key") >= 2, plan[:800]


def test_dsir_bigram_keeps_unigram_plan_shape(spark):
    """q_dsir_weights_bigram: bigram features are built by zip_with on
    the tokenized array IN PLACE — the plan must show no positional
    self-join (no SortMergeJoin at all), the same two-broadcast shape as
    the unigram twin, and the zip_with surviving into the projection."""
    plan = _plan(spark, "q_dsir_weights_bigram")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "zip_with" in plan, plan[:800]


def test_quality_score_broadcasts_model(spark):
    """q_quality_score: the weight table must reach the token stream as a
    broadcast hash join (model inference adds NO shuffle beyond the
    per-doc collapse — a SortMergeJoin here would shuffle the corpus's
    token volume on a 256-key column)."""
    plan = _plan(spark, "q_quality_score")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan, plan[:800]


def test_curation_pipeline_keeps_stage_guards(spark):
    """q_curation_pipeline: composing the stages must not lose their
    individual guards — the 256-row model still arrives by broadcast
    (never a corpus-token SortMergeJoin on the bucket), and the domain
    cap still plans its WindowGroupLimit partial rank pushdown."""
    plan = _plan(spark, "q_curation_pipeline")
    assert "BroadcastExchange" in plan, plan[:800]
    assert "WindowGroupLimit" in plan, plan[:800]
    assert "CartesianProduct" not in plan


def test_curation_pipeline_url_keeps_stage_guards(spark):
    """q_curation_pipeline_url: the four-stage composition keeps every
    stage's guard — the weight table still broadcasts, the domain cap
    still plans WindowGroupLimit, no Cartesian anywhere — and the URL
    stage adds only window exchanges, never a join blowup."""
    plan = _plan(spark, "q_curation_pipeline_url")
    assert "BroadcastExchange" in plan, plan[:800]
    assert "WindowGroupLimit" in plan, plan[:800]
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan[:800]


def test_url_dedup_single_exchange_no_join(spark):
    """q_url_dedup: derivation + canonicalization stay one codegen
    projection; the only shuffle is the canonical-URL exchange feeding
    the count/min windows — no join of any kind."""
    plan = _plan(spark, "q_url_dedup")
    assert "Join" not in plan, plan[:800]
    assert plan.count("Exchange") <= 2, plan[:800]  # 1 shuffle (+AQE echo)


def test_bpe_encode_is_map_only(spark):
    """q_bpe_encode: after the bounded iterative-induction driver loop
    (one 1-row argmax collect per round), the encode
    stage must be a PURE PROJECTION over the documents scan — zero
    Exchange, zero Join of any kind (the merge rules are baked in as
    literal regexp_replace passes, so at 100 TB this is a map-only stage
    whose cost scales with bytes scanned), and the scan pruned to the two
    referenced columns."""
    plan = _plan(spark, "q_bpe_encode")
    assert "Exchange" not in plan, plan[:800]
    assert "Join" not in plan, plan[:800]
    schema_line = next(ln for ln in plan.split("\n") if "ReadSchema" in ln)
    assert "doc_id" in schema_line and "text" in schema_line, schema_line
    assert schema_line.count(":") <= 3, schema_line


def test_bpe_encode_kernel_is_single_arrow_stage(spark):
    """q_bpe_encode_kernel: the production apply for large vocabularies
    must be ONE Arrow mapInPandas stage over the pruned documents scan —
    zero Exchange, zero Join (the rule list rides in the kernel closure,
    never as a joined frame), exactly one Python boundary regardless of
    vocabulary size (the whole point: a 30k-merge tokenizer adds zero
    plan nodes, where the regexp chain adds 30k)."""
    plan = _plan(spark, "q_bpe_encode_kernel")
    assert "Exchange" not in plan, plan[:800]
    assert "Join" not in plan, plan[:800]
    # formatted explain names each node twice (tree line + detail
    # block), so ONE MapInPandas node == exactly two mentions
    assert plan.count("MapInPandas") == 2, plan[:800]
    schema_line = next(ln for ln in plan.split("\n") if "ReadSchema" in ln)
    assert "doc_id" in schema_line and "text" in schema_line, schema_line
    assert schema_line.count(":") <= 3, schema_line


def test_bpe_encode_ids_is_single_arrow_stage(spark):
    """q_bpe_encode_ids (the training-ready token-id export): the same
    single-Arrow-stage contract as the kernel encode — zero Exchange,
    zero Join (rules AND the token->id vocabulary ride in the kernel
    closure, never as joined frames), exactly one Python boundary, and
    the fingerprint over the id array stays a JVM-side projection."""
    plan = _plan(spark, "q_bpe_encode_ids")
    assert "Exchange" not in plan, plan[:800]
    assert "Join" not in plan, plan[:800]
    assert plan.count("MapInPandas") == 2, plan[:800]
    schema_line = next(ln for ln in plan.split("\n") if "ReadSchema" in ln)
    assert "doc_id" in schema_line and "text" in schema_line, schema_line
    assert schema_line.count(":") <= 3, schema_line


def test_pack_token_ids_shape(spark):
    """q_pack_token_ids (sequence-level token-id assembly): the pack
    fold must stay the metadata-only FlatMapGroupsInPandas (ONE node —
    the id arrays never enter the per-source sequential kernel), the
    encode stays MapInPandas (recomputed per consumer by design — the
    r13 rule: let batch-sized frames recompute rather than cache
    corpus-sized intermediates; the production composition materializes
    ids once via release --emit-tokens), and nothing degenerates into a
    cartesian product."""
    plan = _plan(spark, "q_pack_token_ids")
    assert "CartesianProduct" not in plan
    # formatted explain names each node twice (tree + detail block)
    assert plan.count("FlatMapGroupsInPandas") == 2, plan[:1200]
    assert plan.count("MapInPandas") <= 4, plan[:1200]
    # assembly is an object-hash aggregate with bounded per-group state
    # (a sequence is <= PACK_BUDGET tokens by construction)
    assert "ObjectHashAggregate" in plan, plan[:1200]


def test_scd2_single_exchange(spark):
    """q_scd2_history: the change-flag window, the run aggregation, and
    the interval-close window must all reuse ONE hashpartitioning(user_id)
    exchange — a second exchange means the run agg or close window lost
    the clustering and the query shuffles the event volume twice."""
    plan = _plan(spark, "q_scd2_history")
    header = plan.split("(1) Scan")[0]
    assert header.count("Exchange") == 1, header


def test_dpp_join_scan_is_dynamically_pruned(spark):
    """q_dpp_join: the day-partitioned fact scan must carry a
    dynamicpruningexpression PartitionFilter fed by the broadcast dim —
    the runtime-pruning contract. The layout really is multi-directory
    (>=25 day_p dirs) while the dim selects exactly 5 days, so the
    pruned scan reads a strict minority of the layout."""
    import os

    from hnarchive_spark.plans.registry import REGISTRY

    plan = _plan(spark, "q_dpp_join")
    assert "dynamicpruningexpression" in plan, plan[:1500]
    # find the layout path from the scan line and count day dirs
    loc = next(ln for ln in plan.split("\n") if "dpp_events" in ln and "Location" in ln)
    path = loc.split("[file:")[1].split("]")[0]
    days = [d for d in os.listdir(path) if d.startswith("day_p=")]
    assert len(days) >= 25, days
    from hnarchive_spark.plans.analytics import DPP_HOT_DAYS

    assert DPP_HOT_DAYS * 5 <= len(days), "dim must select a strict minority"


def test_hybrid_rerank_stage2_is_pushed_pointlist(spark):
    """q_hybrid_rerank: the plan the query RETURNS is stage 2 alone
    (stage 1's shortlist is collected app-side, the serving shape), so
    it must fetch candidate vectors via a PUSHED id-list scan
    (In(vec_id, ...) in PushedFilters — a point-list fetch with
    row-group pruning), join only by broadcast (shortlist and candidate
    frames are both <= queries x k rows), and do no corpus work: no
    re-tokenize, no training aggregate, no SortMergeJoin, no
    cartesian."""
    plan = _plan(spark, "q_hybrid_rerank")
    assert "In(vec_id" in plan, plan[:1200]
    # the fetch reads the id-bucketed vec store: the shortlist's buckets
    # arrive as a directory-pruning PartitionFilter
    assert any(
        "PartitionFilters" in ln and "bucket" in ln for ln in plan.split("\n")
    ), plan[:1200]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "split(text" not in plan
    assert "avg(" not in plan


def test_curation_funnel_one_dag_no_cartesian(spark):
    """q_curation_funnel: the loss accounting composes the pipeline's
    own stage frames into ONE declarative DAG — the 256-row quality
    model must stay a broadcast join, the flag joins must all key on
    doc_id (metadata-width), and nothing may go cartesian or
    nested-loop; the stage rows come from a single partial+final
    aggregate, not five corpus passes."""
    plan = _plan(spark, "q_curation_funnel")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2


def test_semdedup_indexed_capped_plan_guards(spark):
    """q_semdedup_indexed_capped — the blessed production probe — must
    carry BOTH guards in one plan: zero training (no corpus-wide
    centroid aggregate: the centroid read is a k-row scan feeding a
    broadcast) AND the max_pivots cap planned as a WindowGroupLimit
    partial rank pushdown bounding the within-cluster pair join."""
    plan = _plan(spark, "q_semdedup_indexed_capped")
    assert "avg(" not in plan, plan[:800]  # no Lloyd aggregate at probe time
    assert "WindowGroupLimit" in plan, plan[:800]
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan, plan[:800]


def test_rerank_recall10_arm_plan_guards(spark):
    """q_rerank_recall10: the arms aggregate metadata-width frames — the
    collected shortlist re-enters as a broadcast local relation and the
    exact ground-truth arm is the one corpus pass; no Cartesian, no
    SortMergeJoin of corpus-width sides."""
    plan = _plan(spark, "q_rerank_recall10")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan, plan[:800]


def test_seq_doc_bounds_no_second_window_shuffle(spark):
    """q_seq_doc_bounds (attention-mask boundary offsets): the
    cumulative sum must run INSIDE the collected array (F.aggregate in
    the projection) — a per-row scan, never a prefix-sum Window over
    the doc-level rows (which would add a second sort+shuffle of the
    corpus).  Shape: one Arrow encode stage (MapInPandas), the shared
    metadata-only pack fold (FlatMapGroupsInPandas), the bounded-state
    assembly aggregate, and NO Window node at all."""
    plan = _plan(spark, "q_seq_doc_bounds")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan, plan[:1200]
    assert plan.count("FlatMapGroupsInPandas") == 2, plan[:1200]
    assert "ObjectHashAggregate" in plan, plan[:1200]


def test_pack_waste_is_metadata_only(spark):
    """q_pack_waste: all three folds see (doc_id, n_tokens) metadata
    only — the scan must prune to the projection (no text column
    reaching the fold beyond the token count), the three folds are
    three FlatMapGroupsInPandas nodes, and the joins of per-source
    aggregates must broadcast (20 sources — never an exchange-both-
    sides sort-merge)."""
    plan = _plan(spark, "q_pack_waste")
    assert "CartesianProduct" not in plan
    assert plan.count("FlatMapGroupsInPandas") == 6, plan[:1200]
    assert "BroadcastHashJoin" in plan, plan[:1200]
    assert "SortMergeJoin" not in plan, plan[:1200]
