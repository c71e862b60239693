"""Partitioning-invariance: results must be identical under different
shuffle-partition counts (SURVEY §7.4 risk 2 — total-order tie-breaking
everywhere). Catches nondeterminism that only shows up when partitioning
changes (first() without unique keys, hash-dependent ids, etc.)."""

import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"

QUERIES = [
    "fs_weights",
    "distinct_vectors",
    "mutual_best_match",
    "connected_components",
    "dedup_minhash_lsh",
    "embedding_topk",
    "mcmc_bayes_links",
    # round-2 additions
    "dedup_jaccard_lsh_verified",
    "embedding_topk_ivf",
    "chain_group_counts",
    "segmentlinks",
    "threshold_sensitivity",
    "penalty_path_chain",
    # round-3 additions
    "size_capped_components",
    "one_to_one_links_mutual",
    "dedup_embedding_cosine",
    "one_to_one_links",
    "exact_posterior_links",
    "phonetic_keys",
    "span_sketches",
    "url_canonical",
    "latest_snapshots",
    "crawl_delta",
    "blocking_quality",
    "dedup_containment",
    "link_increment",
    "incremental_components",
    "cluster_metrics",
    "fs_decision_counts",
    "fs_review_queue",
    # round-3 continuation additions
    "snm_pairs",
    "meta_blocking",
    "value_specific_weights",
    "semdedup",
    "countmin_heavy_hitters",
    "tf_cosine_pairs",
    "edit_similarity_pairs",
    "record_fusion",
    "monge_elkan_pairs",
    "bcubed_metrics",
    "pprl_clk_pairs",
    "pprl_clk_band_pairs",
    # round-4 pytest-only-row promotions
    "vector_onehot_index",
    "weight_threshold_grid",
    "one_to_one_links_auction",
    "one_to_one_links_auction_warm",
    "max_weights_path",
    "checkpoint_roundtrip",
    "soft_tfidf_pairs",
    "ari_metrics",
    "tf_adjusted_agreement",
    "kwikcluster_links",
    "stable_relabel",
    "pair_pr_curve",
    "canopy_clusters",
    # round-4 temporal/group additions
    "asof_join_events",
    "range_join_events",
    "event_rollup",
    "group_linkage",
    "comparison_vectors_dl",
    "interval_join_events",
    "u_probability_estimates",
    "blocking_rule_coverage",
    # round-4 ER-diagnostics additions
    "match_weight_waterfall",
    "unlinkables_profile",
    "rule_cascade_links",
    "capture_recapture_estimate",
    "cluster_graph_stats",
    "cluster_centroids",
    "contrastive_pair_mining",
    "source_overlap_matrix",
    "embedding_label_consistency",
    "lexical_diversity",
    "posterior_calibration",
    "scd2_page_versions",
    "truth_discovery",
    "source_trust",
    "star_clusters_links",
    "entity_version_timeline",
    "progressive_er_clusters",
    "msf_edges",
    "single_linkage_profile",
    "one_to_many_links",
    "constrained_components",
    "blocking_rule_selection",
    "phonetic_blocking_pairs",
    "cdc_chunk_dedup",
    "stable_marriage_links",
    "many_to_many_links",
    "bitext_topk",
    # round-5 additions
    "dedup_jaccard_prefix",
]


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns), ignore_index=True)


@pytest.mark.parametrize("name", QUERIES)
def test_partition_count_invariance(spark, name):
    q = entrymod.queries()[name]
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        a = _canon(q(spark, SF).toPandas())
        spark.conf.set("spark.sql.shuffle.partitions", "53")
        b = _canon(q(spark, SF).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b)
    for c in a.columns:
        assert (a[c].astype(str) == b[c].astype(str)).all(), f"{name}.{c}"
