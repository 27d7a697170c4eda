"""Every registered entry, declared once in its family module.

``HEAD`` fixes the first positions of ``__spark_entry__.queries()``: the
round driver oracle-checks only the first 50 entries, and
``tests/test_entry_ordering.py`` pins all 71 listed here.  Every other
entry follows in registration order: family modules in the import order
below, entries in declaration order within a module.
``tools/plan_rotation.py`` proposes a new head order.
"""

from __future__ import annotations

from pgferry_spark.entries import (  # noqa: F401  (imported to register)
    tpch, migration, events, sketches, ann, multimodal, web, dedup, crawl,
    curation,
)
from pgferry_spark.entries.registry import REGISTRY, Entry

HEAD = [
    # 1-50: the window the round driver oracle-checks
    "ngram_perplexity", "exact_substring_spans_exact", "host_pagerank",
    "cross_corpus_near_dup_capped", "dedup_method_agreement",
    "ccnet_buckets", "ivf_pq_kmeans_topk", "ann_recall_ivfpq_kmeans",
    "kmeans_exact_assign", "ivf_kmeans_exact_topk", "ivf_kmeans_assign",
    "embedding_near_dup", "embedding_near_dup_lsh", "embedding_dedup",
    "cosine_topk", "pairwise_cosine_topk", "ivf_assign", "ivf_topk",
    "corpus_filter", "lsh_topk", "lsh_topk_multiprobe", "multimodal_meta",
    "frame_sample", "bm25_topk", "repetition_stats", "contamination_check",
    "length_outliers", "unigram_logprob", "approx_distinct_users",
    "fill_time_gaps", "token_budget_select", "quantize_embeddings",
    "stratified_split", "rate_anomalies", "incremental_dedup",
    "vocab_topk", "winnow_shared_pairs_capped", "chunked_scan",
    "mixture_sample", "shard_manifest", "semdedup", "pq_encode",
    "dup_rate_by_source", "knn_graph", "user_funnel", "q1_pricing_summary",
    "exact_dedup_groups", "gopher_quality_flags", "blockword_flags",
    "robots_noindex_flags",
    # 51-71: next in line for the window
    "robots_txt_rules", "robots_disallow_filter",
    "robots_crawl_delays", "crawl_frontier", "frontier_schedule",
    "sitemap_locs", "warc_record_index", "warc_payload_extract",
    "extract_anchors", "anchor_domain_stats", "html_extract",
    "line_quality_filter", "c4_clean_documents", "line_dedup",
    "web_curation_funnel", "funnel_report", "chunk_documents",
    "temperature_sample", "retention_cohorts", "transition_counts",
    "weighted_sample",
]


def ordered() -> list[Entry]:
    """Every entry: ``HEAD`` first, then the rest in registration order."""
    head = set(HEAD)
    return [REGISTRY[n] for n in HEAD] + [
        e for n, e in REGISTRY.items() if n not in head
    ]
