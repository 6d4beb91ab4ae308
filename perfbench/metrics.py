"""Every metric the benchmark prints, with its unit.

``END_TO_END`` is what an untraced run reports; ``PER_LAYER`` is what a
traced run reports.  Every workload prints every per-layer metric: a layer
the workload never loads reads 0, which is the evidence that it was
bypassed.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "work_per_s": "1/s",
    "cpu_s_per_op": "s",
    "stored_bytes_per_item": "B",
}

MIX = (
    "q_flagship", "q_groupby_agg", "q_window_rank", "q_join_broadcast", "q_dedup_minhash",
    "q_pq_codes", "q_triangle_count", "q_tfidf_top_terms", "q_sessionize", "q_hybrid_rerank",
)
GATES = ("url", "quality", "contamination", "neardup", "merge")

PER_LAYER = {
    "session.get_spark_s": "s",
    "hn_api.fetch_exec_s": "s",
    "hn_api.yield": "ratio",
    "hn_api.transport_calls_per_item": "count",
    "livestream.update_rounds_per_call": "count",
    "livestream.update_items_s": "s",
    "items_store.merge_batch_s": "s",
    "items_store.jobs_per_commit": "count",
    "items_store.empty_commits": "count",
    "items_store.rows_rewritten_per_item": "count",
    "items_store.written_bytes_per_item": "B",
    "items_store.files_linked_per_commit": "count",
    "items_store.latest_id_s": "s",
    "render.page_s": "s",
    "render.jobs_per_page": "count",
    "tree.closure_rows_per_page": "count",
    "tables.load_calls_per_query": "count",
    "tables.load_s_per_query": "s",
}
for _q in MIX:
    PER_LAYER.update({
        f"plans.{_q}.build_s": "s",
        f"plans.{_q}.build_jobs": "count",
        f"catalyst.{_q}.plan_s": "s",
        f"exec.{_q}.wall_s": "s",
        f"exec.{_q}.tasks": "count",
        f"exec.{_q}.cpu_s": "s",
    })
PER_LAYER["ingest.jobs_per_batch"] = "count"
for _g in GATES:
    PER_LAYER.update({
        f"ingest.{_g}.jobs": "count",
        f"ingest.{_g}.exec_s": "s",
        f"ingest.{_g}.removed_share": "ratio",
    })
PER_LAYER.update({
    "ingest.compact_s": "s",
    "exec.cpu_s_per_op": "s",
    "exec.tasks_per_op": "count",
    "exec.shuffle_bytes_per_op": "B",
    "exec.spill_bytes_per_op": "B",
    "jvm.gc_s_per_op": "s",
    "warmup.ops": "count",
    "warmup.last_ops_s": "s",
    "trace.op_p50_s": "s",
    "trace.self_s_per_op": "s",
})
