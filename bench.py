"""Benchmark runner — the driver's per-round performance feedback loop.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
COMPACT JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"sf": ..., "n_queries": N}.  Per-query medians and raw repeats are
written to BENCH_runs.json — the driver's tail capture holds only ~2 KB,
so inlining per-query timings makes the line unparseable (BENCH_r03 and
BENCH_r05 both hit this).

Timing, warm-up, forcing and host-speed probes come from ``tools/measure.py``:
each entry is forced with a ``noop`` sink write (its full output plan, every
column), on the engine's session defaults (AQE on, UTC, tuned shuffle
partitions).

Repeat-median mode (default): every entry runs ``$SPARK_GRAFT_BENCH_REPEATS``
times (default 3) with the cache cleared before each run (cold-compute basis
— operators that persist intermediates would otherwise report a warm second
run); the headline number per entry is the MEDIAN of construction plus
action, the raw runs ride along under "runs" and each run's layer record
(construct_s, action_s, jobs, stages, compiles) under "records".  Container
load swings single runs ~2x; the median keeps round-over-round comparisons
about the code, not the neighbors.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tools import measure

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_revenue",
    "q12_priority_counts",
    "q17_small_quantity_revenue",
    "top_order_per_customer",
    "rollup_pricing",
    "events_hourly",
    "chunked_scan",
    "orphan_anti_join",
    "transform_uuid",
    "text_stats",
    "exact_dedup_groups",
    # r14: minhash_buckets (xxhash64 spelling) retired from the registry;
    # the oracle-green md5 twin measures the identical LSH bucket plan
    "minhash_buckets_md5",
    "simhash_near_pairs",
    "embedding_near_dup",
    "cosine_topk",
    "ivf_topk",
    "multimodal_meta",
    "sessionize",
    "asof_join",
    "corpus_filter",
    "bm25_topk",
    "repetition_stats",
    "contamination_check",
    "unigram_logprob",
    "fill_time_gaps",
    "quality_checks",
    "winnow_summary",
    "winnow_shared_pairs_capped",
    "ivf_assign",
    "vocab_topk",
    "span_dedup",
    "semdedup",
    "knn_graph",
    "pq_encode",
    "user_funnel",
    "chunk_documents",
    "retention_cohorts",
    "name_match_pairs",
    "q16_adapted",
    "q21_adapted",
    "ivf_pq_topk",
    "bigram_logprob",
    "debounce_events",
    "incremental_agg",
    "session_concurrency",
    "lsh_knn_join",
    "events_pivot",
    "revenue_percentiles",
    "ivf_pq_rerank_topk",
    "image_meta_real",
    "dsir_weights",
    # round 6 (VERDICT r5 Next #4): the headline tracks the CAPPED
    # production postures of the LSH/decontamination flagships (listed
    # below); the uncapped cross_corpus_near_dup / lsh_candidate_pairs
    # variants stay registered as oracle rows but are no longer headline
    # rows — at 100 TB you would always run with the bucket cap.
    "margin_mine",
    "negative_samples",
    "curation_funnel",
    "source_datasheet",
    # round 5: capped production postures (VERDICT r4 ask #4) — the
    # wall-clock evidence for the max_bucket configuration; drop stats
    # land in BENCH_runs.json
    "lsh_candidate_pairs_capped",
    "cross_corpus_near_dup_capped",
    # round 5: promote the oracle-green-but-unbenchmarked 51-61 family
    # (VERDICT r4 ask #7) so the headline tracks the whole registry
    "seasonal_anomalies",
    "containment_adjacent",
    "decayed_topk",
    "k_anonymity",
    "l_diversity",
    "q2_adapted",
    "q11_adapted",
    "quality_classifier",
    "compression_ratio",
    "ivf_kmeans_assign",
    # round 5 additions: boilerplate profiler + classifier scorecards
    "boilerplate_ngrams",
    "quality_twin_auc",
    "quality_classifier_auc",
    "mixture_epochs",
    "embedding_drift_psi",
    # round 5 additions: deterministic sketch trio + exact-substring spans
    "exact_substring_spans",
    "hll_registers",
    "hll_union_estimate",
    "cms_token_sketch",
    "bloom_custkey_probe",
    # late round 5: quantile histogram, HLL intersection, lake compaction
    "loghist_price_quantiles",
    "hll_intersect_customers",
    "compaction_plan",
    "cms_join_size_custkey",
    "hll_rolling_users",
    "cms_weighted_spenders",
    "exact_substring_scrub",
    "sketch_validation_lineitem",
    "loghist_rolling_value",
    "hll_churn_customers",
    # round 6: ExactSubstr with Lee et al.'s 50-char match floor, and the
    # oracle-certified real JPEG encode->decode path
    "exact_substring_spans_chars",
    # round 14: exact 50-char suffix-bucket ExactSubstr (VERDICT r13 #4)
    "exact_substring_spans_exact",
    "image_meta_jpeg",
    # round 6: the privacy trio's third gate (variational-distance EMD)
    "t_closeness",
    # round 6: real ISO-BMFF sample-table indexing (per-frame byte ranges)
    "video_frame_index",
    # round 6: WAV PCM segment byte-range index (range-read transcription)
    "audio_segment_index",
    # round 6: retrieval + curation additions (all oracle-backed at birth)
    "hybrid_rrf_topk",
    "dedup_keep_best",
    "mmr_diversify",
    "pii_luhn_cards",
    "pii_card_gate",
    "mmr_diversify_ivf",
    "curate_corpus_best",
    "kmeans_exact_assign",
    "ivf_kmeans_exact_topk",
    "compressibility_entropy",
    "dedup_method_agreement",
    "packing_efficiency",
    # round 7: domain-aware curation (RefinedWeb/C4 source-policy layer)
    "domain_stats",
    "domain_quota_sample",
    "blocklist_filter",
    "url_dedup",
    # round 8 (VERDICT r7 ask #5): the EXIF pair were the only registry
    # entries without bench medians — new entries join the headline the
    # round they are born
    "image_exif_meta",
    "exif_gps_scrub",
    # round 8: HTML→text extraction + C4 line rules, fused page clean,
    # crawl-snapshot merge
    "html_extract",
    "line_quality_filter",
    "c4_clean_documents",
    "crawl_snapshot_merge",
    "crawl_delta_counts",
    # round 8, second wave: corpus line dedup, script profile, URL gate,
    # link extraction + domain link graph
    "line_dedup",
    "script_profile",
    "url_keyword_filter",
    "extract_links",
    "link_graph_stats",
    "domain_token_budget",
    "web_curation_funnel",
    # round 9: robots meta gate + WARC record indexing (new entries join
    # the headline the round they are born)
    "gopher_quality_flags",
    "blockword_flags",
    "robots_noindex_flags",
    "robots_txt_rules",
    "robots_disallow_filter",
    "robots_crawl_delays",
    "crawl_frontier",
    "frontier_schedule",
    "sitemap_locs",
    "warc_record_index",
    "warc_payload_extract",
    "extract_anchors",
    "anchor_domain_stats",
    # round 10: gzip WARC members (the CommonCrawl transport framing)
    # + the SURT-keyed CDX capture index + revisit-record storage dedup
    "warc_gzip_index",
    "warc_gzip_extract",
    "cdx_index",
    "warc_revisit_resolve",
    "warc_revisit_stats",
    # round 10: CCNet perplexity tiers + Gopher dup-line signals
    # (r14: tiers re-keyed onto the KN trigram LM; the scorer itself
    # is the ngram_perplexity birth below)
    "ccnet_buckets",
    "line_repetition",
    # round 14: interpolated Kneser–Ney trigram LM perplexity (VERDICT
    # r13 Next #1 — the CCNet-grade scorer)
    "ngram_perplexity",
    # round 14, post-closing: quantized integer host PageRank over the
    # domain link graph
    "host_pagerank",
    # round 10, second wave: WET export (the CommonCrawl extracted-text
    # companion), sitemap discovery, FineWeb gates, mojibake repair
    "warc_dedup_manifest",
    "frontier_bloom_gate",
    "bpe_roundtrip",
    "wet_conversion_index",
    "wet_text_extract",
    "wet_gzip_extract",
    "wat_export_index",
    "wat_metadata_extract",
    "robots_sitemap_urls",
    "fineweb_quality_flags",
    "utf8_sanity_flags",
    "html_title_meta",
    "extract_tables",
    "mojibake_stats",
    "mojibake_repair",
    # round 11: the HTTP envelope layer (application/http payloads,
    # status gate, declared-charset transcode, redirect edges) + the
    # zipnum cluster.idx secondary index
    "http_response_index",
    "http_status_filter",
    "http_body_extract",
    "http_charset_transcode",
    "http_redirect_edges",
    "cdx_zipnum_index",
    "http_wire_decode",
    "http_revisit_resolve",
    "http_request_pairs",
    "cc_ingest_funnel",
    "http_truncated_audit",
    "recrawl_plan",
    # round 12: the official CommonCrawl wire formats (CDXJ emit/parse,
    # cc-index-table projection, official zipnum blocking content)
    "cdxj_index",
    "cdxj_field_extract",
    "cc_index_table",
    "cdxj_zipnum_cluster",
    "cdx11_index",
    "cc_index_host_stats",
    "robots_status_gate",
    "cdxj_http_index",
    # round-13 births
    "http_charset_sniff",
    "index_routed_retrieval",
    "charset_sniff_disagreements",
    "cdx_closest_capture",
    "recrawl_change_rate",
    "sitemap_lastmod_entries",
    "sitemap_changed_since",
    "crawl_budget_allocate",
]

# FLAGSHIP-25 (VERDICT r6 Next #4): a FROZEN comparability subset —
# migration + the 4 TPC-H flagships + one representative per operator
# family. The full headline set grows every round (28 -> 108 -> ...),
# which buries round-over-round signal; this list NEVER changes after
# freezing (r7), so flagship25_total is directly comparable across all
# future rounds. Locked in BASELINE.md §9.
FLAGSHIP25 = [
    "migration_8table",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_revenue",
    "exact_dedup_groups",            # exact dedup
    "lsh_candidate_pairs_capped",    # MinHash+LSH (capped production posture)
    "simhash_near_pairs",            # SimHash
    "span_dedup",                    # ExactSubstr spans
    "semdedup",                      # embedding near-dup
    "cross_corpus_near_dup_capped",  # decontamination
    "cosine_topk",                   # brute-force ANN baseline
    "ivf_pq_topk",                   # ANN scale path
    "bm25_topk",                     # ranking
    "repetition_stats",              # quality filters
    "quality_twin_auc",              # classifier scorecard
    "vocab_topk",                    # vocab/BPE
    "winnow_shared_pairs_capped",    # winnowing fingerprints
    "pii_luhn_cards",                # PII
    "k_anonymity",                   # privacy trio
    "image_meta_jpeg",               # multimodal codec
    "sessionize",                    # temporal/behavioral
    "curate_corpus_best",            # curation DAG
    "hll_rolling_users",             # sketches
    "incremental_agg",               # lake/IVM
]


# r15 (VERDICT r14 Next #2): the driver's PERF comparator populates
# per_query / scaling ONLY from a "queries" dict inside the printed JSON
# line — it does not read the queries_file side file.  The capture
# buffer is 2000 bytes (BENCH_r03/r05: overflowing it makes the whole
# line unparseable), so the full 192-entry dict cannot fit; we inline a
# FIXED-priority subset, greedily filled to a byte budget, and keep the
# complete medians + raw repeats in BENCH_runs.json as before.  The
# priority list is append-only (entries are never removed or renamed)
# so the inlined set is stable round over round.
INLINE_PRIORITY = [
    # frozen comparability subset first (BASELINE.md §9)
    "migration_8table",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_revenue",
    "exact_dedup_groups",
    "lsh_candidate_pairs_capped",
    "simhash_near_pairs",
    "span_dedup",
    "semdedup",
    "cross_corpus_near_dup_capped",
    "cosine_topk",
    "ivf_pq_topk",
    "bm25_topk",
    "repetition_stats",
    "quality_twin_auc",
    "vocab_topk",
    "winnow_shared_pairs_capped",
    "pii_luhn_cards",
    "k_anonymity",
    "image_meta_jpeg",
    "sessionize",
    "curate_corpus_best",
    "hll_rolling_users",
    "incremental_agg",
    # VERDICT r14-named optimization targets (the entries whose
    # round-over-round movement the judge needs visible)
    "dedup_method_agreement",
    "kmeans_exact_assign",
    "ivf_kmeans_exact_topk",
    "cms_join_size_custkey",
    "index_routed_retrieval",
    "ivf_kmeans_assign",
    "warc_revisit_resolve",
    "warc_revisit_stats",
    "http_revisit_resolve",
    "ccnet_buckets",
    "ngram_perplexity",
    "loghist_price_quantiles",
    "quality_classifier",
    "containment_adjacent",
    "jaccard_adjacent",
    "margin_mine",
    "cc_ingest_funnel",
    "sketch_validation_lineitem",
    "host_pagerank",
    "exact_substring_spans_exact",
    "minhash_buckets_md5",
    "embedding_near_dup",
    "ivf_topk",
    "multimodal_meta",
    "corpus_filter",
]

# whole printed line must sit inside the driver's 2000-byte tail
# capture; leave headroom for \n and any stray prefix bytes
LINE_BYTE_BUDGET = 1900


def _inline_queries(base: dict, timings: dict, order: list,
                    budget: int = LINE_BYTE_BUDGET) -> dict:
    """Medians to inline in ``base``'s line, filled greedily in ``order``.

    An entry whose median would push the compact line past ``budget``
    bytes is skipped, not a stop: later entries with shorter names may
    still fit."""
    queries: dict = {}
    for name in order:
        if name not in timings:
            continue
        candidate = {**queries, name: timings[name]}
        line = json.dumps({**base, "queries": candidate}, separators=(",", ":"))
        if len(line) <= budget:
            queries = candidate
    return queries


def _proc_stat():
    """(total, idle) jiffies of the whole host, or (None, None)."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        return sum(vals), vals[3] + (vals[4] if len(vals) > 4 else 0)
    except (OSError, ValueError, IndexError):
        return None, None


def _capped_drops(spark, sf_dir: str) -> dict:
    """Drop-rate evidence for the capped bench rows (VERDICT r4 ask #4):
    how many buckets/rows the max_bucket=3 cap excludes at this SF."""
    from pyspark.sql import functions as F

    from pgferry_spark.entries.common import lake_table
    from pgferry_spark.operators.dedup import lsh_bucket_table

    docs = lake_table(spark, sf_dir, "documents")
    out = {}
    for name, bdf in (
        ("lsh_candidate_pairs_capped",
         lsh_bucket_table(docs, "text", "doc_id", 12, 4, 3, hash_fn="xxhash64")),
        ("cross_corpus_near_dup_capped",
         lsh_bucket_table(docs.filter(F.col("doc_id") % 10 != 0), "text", "doc_id", 12, 4, 3)),
    ):
        row = bdf.groupBy("band_id", "band_hash").count().agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(F.when(F.col("count") > 3, 1).otherwise(0)).alias("dropped_buckets"),
            F.sum(F.when(F.col("count") > 3, F.col("count")).otherwise(0)).alias("dropped_rows"),
        ).collect()[0]
        out[name] = {
            "max_bucket": 3,
            "n_buckets": row["n_buckets"],
            "dropped_buckets": int(row["dropped_buckets"]),
            "dropped_rows": int(row["dropped_rows"]),
        }
    return out


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.0
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))

    spark = measure.session("pgferry_spark_bench")
    builders = measure.registry()
    measure.warm_up(spark, sf_dir)
    meter = measure.Meter(spark)
    # host-speed calibration (BASELINE.md §21), at run start and end
    cpu_probe = {"start_ms": measure.cpu_probe_ms(), "start_mc8_ms": measure.cpu_probe_mc8_ms()}

    records: dict[str, list[dict]] = {}
    runs: dict[str, list[float]] = {}
    timings: dict[str, float] = {}
    # ambient telemetry (VERDICT r13 Next #8): per-entry loadavg and
    # whole-host busy fraction, so a mover can be adjudicated ambient vs
    # code from the ledger: equal busy_frac with inflated wall is
    # contention, not code
    ambient: dict[str, dict] = {}
    # the migration (BASELINE.md's headline metric) runs last, after the
    # queries' straggler caches are released like every other entry's
    for name in HEADLINE + ["migration_8table"]:
        la = os.getloadavg()[0]
        tot0, idle0 = _proc_stat()
        records[name] = meter.repeats(builders[name], sf_dir, repeats)
        tot1, idle1 = _proc_stat()
        busy = None
        if tot0 is not None and tot1 is not None and tot1 > tot0:
            busy = round(1.0 - (idle1 - idle0) / (tot1 - tot0), 4)
        ambient[name] = {"loadavg1_pre": round(la, 2), "cpu_busy_frac": busy}
        runs[name] = [measure.wall(r) for r in records[name]]
        timings[name] = round(measure.median(runs[name]), 3)

    total = round(sum(timings.values()), 3)
    flagship_total = round(sum(timings[n] for n in FLAGSHIP25), 3)
    try:
        capped_drops = _capped_drops(spark, sf_dir)
    except Exception as exc:  # stats must never sink the bench line
        capped_drops = {"error": str(exc)}
    cpu_probe["end_ms"] = measure.cpu_probe_ms()
    cpu_probe["end_mc8_ms"] = measure.cpu_probe_mc8_ms()

    # Raw per-repeat runs and records go to a SIDE file: round 3 inlined
    # them into the JSON line and the line outgrew the ~2 KB stdout tail a
    # round keeps ("parsed": null in BENCH_r03)
    runs_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_runs.json")
    with open(runs_path, "w") as fh:
        json.dump(
            {"runs": runs, "medians": timings, "repeats": repeats, "sf": sf,
             "flagship25": FLAGSHIP25, "flagship25_total": flagship_total,
             "capped_drop_stats": capped_drops, "ambient": ambient,
             "cpu_probe": cpu_probe, "records": records},
            fh, indent=1,
        )
    sys.stdout.flush()
    # VERDICT r5 Next #1 + r14 Next #2: the final stdout line must stay
    # inside the ~2 KB stdout tail a round keeps, AND a round's
    # per_query/scaling tables populate only from a "queries" dict inside
    # this line: inline the fixed-priority subset up to LINE_BYTE_BUDGET
    base = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        # frozen comparability subset (BASELINE.md §9): same 25
        # entries every round from r7 on
        "flagship25_total": flagship_total,
        "queries": {},
        # single-core and 8-process probe at run start/end, so an
        # ambient-suspect headline is adjudicable from the line alone
        "cpu_probe_ms": [
            cpu_probe["start_ms"], cpu_probe["end_ms"],
            cpu_probe["start_mc8_ms"], cpu_probe["end_mc8_ms"],
        ],
        "queries_file": "BENCH_runs.json",
    }
    fill_order = list(INLINE_PRIORITY) + [
        n for n in timings if n not in INLINE_PRIORITY
    ]
    base["queries"] = _inline_queries(base, timings, fill_order)
    print(json.dumps(base, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
