"""The op list of each workload: (SparkEntry query name, module).

Only ops with a DuckDB twin in `SparkEntry.oracleSql` are listed, so
every timed output is checked. Lists are fixed (the seed changes the
data, never the ops) and run in this order on every pass.
"""

WORKLOADS = {
    "cdc_replay": [(op, "cdc.StreamingLatest") for op in [
        "cdc_stream_stateful",
        "cdc_stream_dedup",
        "cdc_stream_join",
        "cdc_state_reader",
    ]],
    "warehouse_batch": [
        ("cdc_latest_state", "cdc.Changelog"),
        ("cdc_scd2_history", "cdc.Changelog"),
        ("cdc_merge_upsert", "cdc.Changelog"),
        ("cdc_envelope_evolution", "cdc.Envelope"),
        ("q4_order_priority", "rel.TpchShapes"),
        ("join_5way_revenue", "rel.Relational"),
        ("sql_named_window", "rel.SqlSurface"),
        ("join_dpp_partitioned", "rel.Formats"),
        ("agg_regression", "rel.FuncSurface"),
        ("agg_listagg", "rel.Modern"),
        ("layout_bucketed_join", "rel.Bucketing"),
        ("typed_sorted_streaks", "rel.TypedOps"),
    ],
    "corpus_prep": [
        ("text_ngram_freq", "llm.TextOps"),
        ("dedup_exact_hash", "llm.TextOps"),
        ("dedup_containment", "llm.TextOps"),
        ("text_bpe_merges", "llm.TextOps"),
        ("text_quality_classifier", "llm.TextOps"),
        ("sim_knn_join", "llm.VectorOps"),
        ("vec_label_centroids", "llm.VectorOps"),
        ("graph_pagerank", "llm.GraphOps"),
        ("mm_binary_meta", "mm.MultiModal"),
    ],
}

# Every module a workload calls, in first-use order (per-layer metrics).
MODULES = list(dict.fromkeys(m for ops in WORKLOADS.values() for _, m in ops))
