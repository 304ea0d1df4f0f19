"""The gate window: the one place ``Query.gated`` is decided.

The external correctness gate records at most 50 registry entries per
round.  A query is gated, i.e. exported through ``__spark_entry__``,
exactly when its name is in :data:`ACTIVE_WINDOW`.  Every other
registered query is swept only by the local oracle gate
(tests/test_oracle_gate.py, ``python -m sparkroach.oracle``), and must
either hold a green recording in a ``CORRECTNESS_r*.json`` file or be
listed in :data:`DELEGATED` with a twin that has one
(tests/test_rotation.py).
"""

from __future__ import annotations

ACTIVE_WINDOW: frozenset[str] = frozenset(
    {
        "arrow_ipc_roundtrip",
        "bigram_top_transitions",
        "bitext_margin_pairs",
        "bootstrap_mean_ci",
        "bpe_encode_apply",
        "chain_end_to_end",
        "clean_corpus_report",
        "customer_l_diversity_report",
        "customer_record_linkage",
        "dataset_card_stats",
        "dbscan_embedding_clusters",
        "dedup_cluster_bcubed",
        "dedup_embedding_cosine",
        "doc_rarity_score",
        "documents_pdf_text_ingest",
        "documents_sqlite_ingest",
        "dsir_importance_weights",
        "dup_graph_triangles",
        "dup_span_cut_list",
        "embedding_power_iteration_pc1",
        "epoch_shuffle_order",
        "events_cusum_drift",
        "events_ordered_funnel_maxgap",
        "events_small_file_compaction",
        "hybrid_rrf_fusion",
        "inverted_index_postings",
        "knn_graph_ivf",
        "leakage_safe_split",
        "lineitem_corr_matrix",
        "lsh_recall_report",
        "mmr_diversified_topk",
        "mojibake_repair_report",
        "multimodal_goertzel_tone",
        "multimodal_png_decode",
        "orders_benford_audit",
        "part_pareto_frontier",
        "phrase_query_positions",
        "quality_filter_funnel",
        "quality_rater_kappa",
        "robots_disallow_filter",
        "script_mix_report",
        "search_ndcg_report",
        "semdedup_clusters",
        "shard_rendezvous_assign",
        "source_budget_apportion",
        "source_term_salience",
        "substring_denylist_scan",
        "suppkey_skew_report",
        "tokenizer_fertility_report",
        "vocab_term_stats",
    }
)

# Gated queries with no SQL-expressible oracle (the gate records a
# rows-only check for them): none since chain_end_to_end became
# oracle-bearing.
ROWS_ONLY: frozenset[str] = frozenset()

# name -> (gate-proven twin, one-line justification)
DELEGATED: dict[str, tuple[str, str]] = {
    "events_zone_map_report": (
        "events_small_file_compaction",
        "controlled file write + re-read verification lane (window "
        "gate); the per-file min/max zone-map semantics and sorted-layout "
        "contiguous-skip property are unit-pinned in "
        "tests/test_analytics28.py",
    ),
}
