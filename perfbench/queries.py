"""The catalog query lists of the two batch workloads.

``DETECT_ALL`` holds every query registered by the reference-port plan
modules (``plans/catalog.py``, ``catalog_customs.py``,
``catalog_composed.py``, ``catalog_detectors.py``,
``catalog_pipeline.py``). ``CORPUS_ALL`` holds every other catalog query
whose source tables include ``documents`` or ``embeddings``, counting
tables read before a ``localCheckpoint``. Queries over TPC-H tables
only are covered by ``bench.py``.

Both lists were derived once with ``python3 perfbench/queries.py
DATA_DIR`` (a directory holding every catalog input table, such as the
sf0.001 test data) and are committed as fixed tuples, so a query moving
between modules later does not change a workload. A pass over a whole
list does not fit the benchmark's time budget (about 30 s for the
detection list at sf0.001, and about 100 s for the corpus list at sf0.1
on a 4-core machine), so each workload runs a fixed sample: every second
detection query, and the four corpus queries the roadmap targets. At
sf0.1 those four take about 28 s, and their DuckDB answers about 70 s
once per checkout.
"""

from __future__ import annotations

DETECT_MODULES = ("catalog", "catalog_customs", "catalog_composed",
                  "catalog_detectors", "catalog_pipeline")
CORPUS_TABLES = ("documents", "embeddings")
# the tables the sampled detection queries read (their oracle SQL)
DETECT_TABLES = ("events", "documents", "customer", "part")
ROADMAP_TARGETS = ("split_leakage_check", "dedup_clusters",
                   "cluster_canonical_docs", "knn_label_vote")

DETECT_ALL = (
    "account_creation_dist", "account_enumeration", "addon_multi_match",
    "alert_pipeline", "alert_summary_delta", "alert_summary_rollup",
    "alert_summary_sliding", "alert_suppression", "amo_addon_matcher",
    "amo_cloud_submission", "amo_fxa_ban_pattern", "amo_multi_submit",
    "amo_report_restriction", "assume_role_correlate", "auth_state_decision",
    "authprofile_parse_filters", "authprofile_pipeline", "aws_behavior_match",
    "cidr_exclusion", "content_server_variance", "crit_object_analyze",
    "customs_activity_monitor", "customs_alert_fanout", "customs_features",
    "customs_pipeline", "customs_prefilter_split", "customs_summary",
    "detect_nat", "email_normalize", "endpoint_abuse_analysis",
    "endpoint_sequence_abuse", "error_rate_analysis", "etd_finding_matcher",
    "event_filter_dsl", "fxa_alias_abuse", "geo_velocity", "global_stats",
    "guardduty_finding_matcher", "hard_limit_analysis", "identity_resolution",
    "levenshtein_similarity", "login_failure_at_risk_account",
    "multi_ip_login", "notify_merge", "parse_normalize",
    "password_reset_abuse", "per_endpoint_error_rate",
    "pioneer_exfil_sessions", "postprocessing_pipeline",
    "private_relay_forward", "salted_hard_limit", "session_analysis",
    "session_limit_analysis", "shared_state_at_risk", "source_correlation",
    "source_login_failure", "source_login_failure_dist",
    "status_code_rate_analysis", "status_comparator", "threshold_analysis",
    "threshold_with_nat_exclusion", "ua_blocklist", "violation_projection",
    "watchlist_match",
)

CORPUS_ALL = (
    "ann_cosine_ivf", "ann_cosine_lsh", "ann_cosine_lsh_multiprobe",
    "ann_cosine_pq", "ann_cosine_topk", "ann_range_search",
    "ann_range_search_ivf", "bigram_pmi_collocations", "bloom_decontaminate",
    "bm25_topk_retrieval", "bpe_token_counts", "bpe_train_merges",
    "c4_quality_rules", "cluster_canonical_docs", "consistent_hash_assignment",
    "containment_dedup", "contamination_overlap_fraction", "corpus_drift",
    "countmin_heavy_hitters", "dataset_split_assign", "decontaminate",
    "dedup_clusters", "dedup_embedding_cosine", "dedup_exact",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash",
    "dedup_simhash_pairs", "doc_fingerprint", "doc_language_mix",
    "dsir_importance_weights", "duplicate_ngram_fraction",
    "embedding_cluster_summary", "embedding_int8_quantize",
    "embedding_norm_outliers", "epoch_mixture_plan", "exact_substring_dedup",
    "gini_token_diversity", "gopher_topngram", "inverted_index_stats",
    "kcenter_coreset_picks", "kmeans_codebook", "knn_label_vote",
    "language_id", "lm_typicality_filter", "minhash_jaccard_estimate_error",
    "mixture_budget_sample", "mmr_diversified_topk", "multimodal_audio_energy",
    "multimodal_frame_sample", "multimodal_metadata", "multimodal_phash_dedup",
    "neardup_pair_recall", "ngram_corpus_stats", "ngram_novelty_score",
    "oov_rate_filter", "passage_dedup", "pii_scrub", "prefix_jaccard_join",
    "priority_sample_weighted", "quality_filter_pipeline",
    "rag_chunk_passages", "reservoir_sample_per_key", "rrf_hybrid_fusion",
    "semdedup", "sequence_packing", "source_rank_normalize",
    "split_leakage_check", "stratified_sample", "text_quality",
    "text_repetition", "text_stats", "tfidf_top_terms", "token_count_bpe",
    "token_simpson_index", "tokenizer_fertility", "training_data_pipeline",
    "vocab_growth_curve", "winnowing_fingerprints",
    "winnowing_plagiarism_pairs",
)

DETECT_BATCH = DETECT_ALL[0::2]
CORPUS_BATCH = tuple(sorted(ROADMAP_TARGETS))


def derive(data_dir: str) -> tuple[list[str], list[str]]:
    """Recompute both full lists: run every catalog query once over
    ``data_dir`` and record the tables each one loads."""
    import sys

    from foxsec_pipeline_spark import session
    from foxsec_pipeline_spark.plans.catalog import registry

    from common import start_spark, stop_spark

    spark = start_spark()
    reg = registry()
    seen: list[str] = []
    load = session.load_tables

    def recording(spark, sf_dir, *names):
        seen.extend(names)
        return load(spark, sf_dir, *names)

    for mod in list(sys.modules.values()):
        if getattr(mod, "load_tables", None) is load:
            mod.load_tables = recording
    detect, corpus = [], []
    try:
        for name, spec in sorted(reg.items()):
            seen.clear()
            spec.fn(spark, data_dir).collect()
            if spec.fn.__module__.rsplit(".", 1)[-1] in DETECT_MODULES:
                detect.append(name)
            elif set(seen) & set(CORPUS_TABLES):
                corpus.append(name)
    finally:
        for mod in list(sys.modules.values()):
            if getattr(mod, "load_tables", None) is recording:
                mod.load_tables = load
        stop_spark()
    return detect, corpus


if __name__ == "__main__":
    import sys

    from common import configure_env

    configure_env()
    d, c = derive(sys.argv[1])
    print("DETECT_ALL =", tuple(d))
    print("CORPUS_ALL =", tuple(c))
