"""The registered query keys each benchmark workload runs.

Why each workload exists is stated once, in ``BENCHMARK.json``. Every
key here matches its DuckDB oracle on the benchmark's generated sf0.1
data. One pass runs each key once, in an order shuffled by the run's
seed. A run makes as many passes as fill its ``--seconds`` at the
workload's nominal pass time below, and at least two, so every run of
a workload times the same operations.
"""

WORKLOADS: dict[str, tuple[str, ...]] = {
    "serve": (
        "q_vs_retrieve", "q_topk_cosine", "q_format_docs",
        "q_dedup_sources", "q_truncate_render", "q_context_pack",
        "q_chunk_documents", "q_bm25", "q_regex_transform",
        "q_tpch_q6", "q_tpch_q14", "q_join_inner", "q_orderby_limit",
        "q_filter_pred",
    ),
    "pipeline": (
        "q_media_frames", "q_minhash_sig", "q_pmi_collocations",
        "q_stream_tumbling", "q_stream_foreach_sink", "q_upsert",
    ),
}

# Seconds one timed pass took when these lists were chosen (4-vCPU VM).
PASS_SECONDS: dict[str, float] = {"serve": 2.5, "pipeline": 5.0}
