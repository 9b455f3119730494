"""Benchmark workloads: the registered queries each one runs, in order.

Why each was chosen is in BENCHMARK.json and perfbench/README.md.
"""

WORKLOADS = {
    "sd2_etl": (
        "q_gen_experiment_pipeline",
        "q_tpch_q9_product_profit",
        "q_stream_tumbling_watermarked",
        "q_sink_partition_overwrite",
    ),
    "llm_corpus": (
        "q_dedup_lsh_refine",
        "q_graph_bfs_hops",
        "q_sim_cosine_topk",
    ),
}
