"""Regenerate docs/PLANS.md — executed physical plans for representative
queries, with the plan properties we engineered for called out.

Run: python tools/dump_plans.py [sf_dir]

Plans are captured AFTER an action so AQE has re-planned (isFinalPlan=true):
the doc shows what actually ran, not the static guess.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry
from pgferry_spark.session import get_spark

# query -> (what to look for, why the plan is shaped that way)
ANNOTATED = {
    "q1_pricing_summary": (
        "single scan, partial+final HashAggregate, no join",
        "The shipdate filter and 9-column projection reach the parquet scan "
        "(PushedFilters/ReadSchema); partial aggregation combines map-side so "
        "the single shuffle carries one row per (returnflag, linestatus) "
        "per task, not 600k rows.",
    ),
    "q3_shipping_priority": (
        "dim broadcast + one fact shuffle + TakeOrderedAndProject",
        "customer (filtered to one segment) broadcasts; lineitem joins orders "
        "on the shuffled order key; the top-10 is TakeOrderedAndProject — "
        "a per-partition heap then a driver merge, never a full sort.",
    ),
    "q5_local_supplier_volume": (
        "all four dims broadcast, single fact pass",
        "region→nation collapses driver-side into one small dim; customer/"
        "supplier/nation broadcast so the only shuffle is lineitem⋈orders; "
        "the same-nation predicate applies as a post-join filter before "
        "aggregation.",
    ),
    "q10_returned_revenue": (
        "fact-side filters precede joins",
        "returnflag and the quarter window shrink both fact inputs before "
        "any join; customer and nation broadcast; top-20 via "
        "TakeOrderedAndProject.",
    ),
    "corpus_filter": (
        "one scoring projection, one shuffle",
        "All text metrics derive from a single tokenization; the dedup "
        "keeper is a window-min over the fingerprint — one hash-partition "
        "shuffle, no self-join, scoring computed exactly once.",
    ),
    "minhash_buckets_md5": (
        "explode→groupBy with map-side MIN combine",
        "Docs hash-repartition BEFORE the shingle explode, so the shuffle "
        "moves 1× corpus rows, not 50× exploded shingles; the 12 MIN "
        "aggregates combine map-side; two leaf hashes per shingle feed all "
        "12 hash functions (Kirsch–Mitzenmacher double hashing). The "
        "hash_fn='xxhash64' library fast path runs the identical plan with "
        "JVM-intrinsic leaf hashes (plan-pinned in test_plan_shapes).",
    ),
    "ivf_topk": (
        "one filtered map-only scan + TakeOrderedAndProject",
        "Cell membership is a per-row argmax against broadcast centroid "
        "literals (struct array_max), so the probe touches the corpus "
        "exactly once: no ivf_assign stage, no window, no join, zero "
        "Exchanges. At scale the same probe reads one cell of a bucketed "
        "assignment table instead.",
    ),
    "embedding_near_dup": (
        "blocked GEMM via mapInPandas",
        "Vectors group into ~1k-row blocks; each block pair is one Arrow "
        "batch into numpy A@B.T; only above-threshold pairs return. The "
        "O(N²) pair stream never crosses the Python boundary row-wise.",
    ),
    "embedding_near_dup_lsh": (
        "bucket-GEMM: one shuffle, no pair join",
        "Hyperplane signatures come from one vectorized pandas UDF (an "
        "ArrowEvalPython node — computed once however many band structs "
        "reference it); the band explode groups by bucket and a per-bucket "
        "applyInPandas matmul verifies candidates. Pairs never exist as "
        "JVM rows before the threshold filter.",
    ),
    "sessionize": (
        "single shuffle by user, window over ordered events",
        "Gap detection is lag() + running SUM over (user, ts) — one "
        "hash-partition by user_id with in-partition sort, no self-join.",
    ),
    "q7_volume_shipping": (
        "every dim broadcast, ONE SortMergeJoin on the order key",
        "Nation filters push into both nation scans (n_name IN (...)); "
        "supplier⋈nation and customer⋈nation broadcast onto the facts; the "
        "single big shuffle is lineitem⋈orders, with partial aggregation "
        "above it.",
    ),
    "q18_large_volume_customers": (
        "HAVING pre-aggregation, broadcast semi, TakeOrderedAndProject",
        "The quantity HAVING filter runs on the grouped fact BEFORE any "
        "join, so only qualifying order keys enter the join graph; the "
        "top-100 is a per-partition heap, never a global sort.",
    ),
    "range_join_incidents": (
        "bucket-quantized equi-join — no NestedLoop, no Cartesian",
        "Points quantize to one bucket, intervals explode to covered "
        "buckets; the match is a hash equi-join on the bucket id plus an "
        "exact boundary filter. A naive theta join here would plan as "
        "BroadcastNestedLoopJoin — quadratic and unplannable at scale.",
    ),
    "time_rollup": (
        "three resolutions, one fact scan (GROUPING SETS Expand)",
        "minute/hour/day buckets compute in a single projection; Expand "
        "emits one row per grouping set with partial aggregation map-side — "
        "the fact table is scanned once, not once per resolution.",
    ),
    "cdc_merge": (
        "window-collapsed log + single co-partitioned full outer join",
        "row_number per key collapses the change log (one shuffle); the "
        "full outer join against the base shares the key partitioning, so "
        "merge cost is one pass over each side.",
    ),
    "winnow_shared_pairs": (
        "map-only fingerprints, equi-self-join on the fingerprint value",
        "Winnowing (k-gram hashes → windowed minima → distinct) is pure "
        "Column math with no shuffle; candidate pairs come from one explode "
        "+ hash join on the fingerprint — never all-pairs.",
    ),
    "bm25_topk": (
        "one tokenizing scan, cached narrow stats, TakeOrderedAndProject",
        "The corpus tokenizes once into a persisted (doc, dl, tf…) table "
        "(InMemoryTableScan feeds all three consumers); corpus stats and "
        "per-term document frequencies are 1-row broadcast aggregates; the "
        "top-k is an ordered take, not a full sort.",
    ),
    "contamination_check": (
        "broadcast benchmark shingles, exploded hash semi-join",
        "The benchmark's distinct shingle set broadcasts and hash-builds "
        "once per task; the corpus explodes per-doc distinct shingles "
        "behind a fan_out exchange (explode_outer, so Catalyst cannot "
        "clone the n-gram construction into a pre-shuffle scan filter); "
        "the final aggregate shuffles only true contamination hits.",
    ),
    "repetition_stats": (
        "map-only array expressions, no shuffle",
        "Dup-word / top-word / top-bigram fractions are computed per row "
        "from one tokenization — the only exchange is fan_out's input "
        "spread when the file arrives under-partitioned.",
    ),
    "unigram_logprob": (
        "token-keyed vocab aggregate + doc-keyed mean",
        "The corpus's own unigram distribution is a partial-aggregated "
        "groupBy(token); it joins back token-keyed (broadcast here, "
        "shuffle join at vocabulary scale) and the per-doc mean is the "
        "second and last shuffle.",
    ),
    "token_budget_select": (
        "histogram threshold instead of a global-order window",
        "The naive form is an unpartitioned cumulative window — one task "
        "sorting the corpus. Here a bounded per-quality-level token "
        "histogram (collected driver-side like chunk-planner metadata) "
        "finds the threshold; everything above it is a plain filter and "
        "only the single threshold level runs a partitioned window.",
    ),
    "rate_anomalies": (
        "window over the aggregated bucket table, not the facts",
        "One fact aggregate produces (group, bucket, count); the trailing "
        "mean/stddev window runs over that tiny table, so its cost is "
        "groups x buckets regardless of event cardinality.",
    ),
    "quantize_embeddings": (
        "map-only transform/fold expressions, no shuffle",
        "int8 codes, per-vector scale, and L2 reconstruction error all "
        "compute as whole-stage-codegen column expressions in one pass — "
        "the 4x memory cut lands without a single exchange.",
    ),
    # --- round 5 ---------------------------------------------------------
    "q2_adapted": (
        "part keys semi-join the fact BEFORE the cost aggregate",
        "Only 1/|size-domain| of parts survive the final join, so the "
        "p_size filter broadcasts into a left-semi prune of lineitem "
        "ahead of the wide (part, supp) aggregate; the correlated min-"
        "cost subquery stays a window-min per part (partitions are "
        "independent, so the pushdown is semantics-preserving). One "
        "lineitem scan, measured 4.3 -> 1.0 s at sf0.1.",
    ),
    "q11_adapted": (
        "global total via unpartitioned window over the grouped result",
        "The agg-of-the-grouped-result + broadcast crossJoin form "
        "compiled to TWO lineitem scans (no exchange reuse under a "
        "differing parent aggregate); the window form computes the "
        "total over the part-cardinality table in one small partition. "
        "One fact scan, measured 3.6 -> 1.1 s at sf0.1.",
    ),
    "containment_adjacent": (
        "explode_outer keeps the shingle build out of the scan filter",
        "Plain explode inferred size(grams) > 0 and Catalyst cloned the "
        "whole n-gram construction into the pre-fan-out scan filter "
        "(the MinHash-pipeline pathology, resurfaced in the verify "
        "family); explode_outer + not-null is bit-identical and cut "
        "5.2 -> 1.6 s at sf0.1.",
    ),
    "quality_twin_auc": (
        "broadcast weight join; AUC over the distinct-score table",
        "The <=4096-row log-odds table broadcasts against the token-"
        "bucket stream (BroadcastHashJoin); document scores are exact "
        "integer sums of micro-unit weights; the Mann-Whitney AUC "
        "aggregates to distinct scores first, so the cumulative window "
        "runs over a bounded table, never a per-row global rank.",
    ),
    "boilerplate_ngrams": (
        "gram-keyed aggregate + TakeOrdered, singleton tail pruned",
        "Per-doc DISTINCT shingles (membership, not multiplicity) "
        "explode into one map-side-combined doc-frequency aggregate; "
        "min_doc_freq prunes before TakeOrderedAndProject so the top-k "
        "never sorts the full gram vocabulary.",
    ),
    "cross_corpus_near_dup_capped": (
        "corpus-side hot-bucket cap rides the bucket partitioning",
        "kept-buckets derive from counts aggregated on the SAME "
        "(band_id, band_hash) keys the candidate join uses — the cap "
        "adds no extra wide shuffle, and the drop rate is logged per "
        "bench run (BENCH_runs.json capped_drop_stats).",
    ),
    "hll_registers": (
        "ONE hash aggregate; register table is the shuffle payload",
        "bucket/rho derive from exact integer bit math on the md5 hash "
        "inside the projection; the single Exchange carries at most "
        "groups*256 register rows after map-side MAX combine — input "
        "cardinality never crosses the wire.",
    ),
    "loghist_price_quantiles": (
        "histogram aggregate + bounded window; data scanned once per branch",
        "The (octave, sub-bucket) keys are exact integer/bit-length math "
        "in the scan projection; the histogram aggregate combines "
        "map-side to <= 63*k rows per flag, and the quantile read-off "
        "windows THAT table, not the data. The exact-percentile "
        "scorecard branch is the only full-column pass.",
    ),
    "hll_intersect_customers": (
        "three register-table aggregates, broadcast-only combination",
        "est(A), est(B) and est(A∪B) are single-row aggregates over "
        "<=256-row register tables; inclusion-exclusion combines them "
        "via 1-row broadcasts — no SortMergeJoin, nothing corpus-sized "
        "joined anywhere (plan-asserted).",
    ),
    "hll_rolling_users": (
        "one event-cardinality aggregate; window explode over registers",
        "the per-day register aggregate is the ONLY operator touching "
        "event-cardinality rows; the trailing-window explode multiplies "
        "<=256-row/day register tables (Generate sits above the first "
        "HashAggregate), and the two merges after it are bounded by "
        "days*256. An exact rolling COUNT(DISTINCT) would instead "
        "re-shuffle window_days of raw keys per output day.",
    ),
    "cms_weighted_spenders": (
        "weighted cell aggregate; sketch broadcasts to the probe",
        "the revenue weights sum into depth*width cells in one "
        "map-side-combined aggregate; the top-15 probe explodes to "
        "depth rows and joins the broadcast sketch — nothing key-"
        "cardinality-sized shuffles for the estimate.",
    ),
    "exact_substring_scrub": (
        "span application is an equi-join; rebuild is per-document",
        "the spans table (one row per maximal duplicate span) joins the "
        "exploded tokens on the document id with a range predicate — "
        "no Cartesian, no BroadcastNestedLoop (plan-asserted); the "
        "reconstruction is an array_sort over each document's own "
        "surviving tokens, bounded by document length, never a global "
        "sort.",
    ),
    "sketch_validation_lineitem": (
        "per-column bounded aggregates; 1-row broadcast combines",
        "each column costs one register aggregate + one histogram "
        "aggregate per side (DECIMAL-normalized before hashing so the "
        "oracle's string rendering matches); the per-column rows "
        "combine via 1-row broadcasts — COUNT(*)-level cost for "
        "content-shape validation.",
    ),
    "compaction_plan": (
        "manifest aggregate + one metadata window, no join",
        "The file manifest aggregates from the md5 shard assignment "
        "(one shuffle, output = files, not docs); bin assignment is a "
        "single cumulative-sum window partitioned by source over "
        "file-count rows. The plan's cost is O(files), independent of "
        "table bytes — the rewrite it feeds is per-bin parallel.",
    ),
    "hybrid_rrf_topk": (
        "two bounded top-N generators + one window pass + ordered take",
        "Each candidate list is its generator's own plan (BM25's narrow "
        "persisted stats table, cosine's one-scan TakeOrdered); the "
        "fusion unions N-per-list rows, ranks them in a single window "
        "partitioned by list index (each partition IS one top-N, so no "
        "skew is possible), and cuts with TakeOrderedAndProject — "
        "fusion cost is independent of corpus size by construction.",
    ),
    "dedup_keep_best": (
        "ONE map-side-combinable aggregate, no window, no join",
        "max(struct(score, -id)) per fingerprint reduces inside each "
        "input partition before the single Exchange — a hot duplicate "
        "group never materializes in one task the way a row_number "
        "window would force; dup_count rides the same aggregate.",
    ),
    "mmr_diversify": (
        "one exact top-N scan + bounded Arrow greedy, no shuffle",
        "Only the candidate stage touches the corpus (the audited "
        "cosine_topk TakeOrdered plan); the inherently-sequential "
        "greedy argmax runs over the bounded candidate batch in a "
        "single mapInPandas partition — the corpus never meets the "
        "O(k*N) pairwise stage.",
    ),
    "pii_luhn_cards": (
        "map-only: synthesis, extraction, and checksum in one scan",
        "Card-run extraction, separator strip, length gate, and the "
        "Luhn split/transform/aggregate all fuse into the projection — "
        "no Exchange at all (plan-asserted); at 100 TB this rides the "
        "ingest scan inside whole-stage codegen.",
    ),
    "kmeans_exact_assign": (
        "map-only final assignment against trained centroid literals",
        "The 3 Lloyd iterations run eagerly at build time — each is one "
        "corpus scan + one bounded DECIMAL aggregate (n_cells x dim "
        "rows) whose exact arithmetic makes the training "
        "partition-invariant. The returned plan is the probe shape: "
        "quantize once in its own projection, per-row argmin over 8 "
        "centroid literals, no join, no shuffle.",
    ),
    "ivf_kmeans_exact_topk": (
        "trained-index probe: one filtered scan + ordered take",
        "Cell membership is per-row register math against the trained "
        "centroids (the ivf_assign plan); the exact cosine top-10 runs "
        "only inside the query's cell — TakeOrderedAndProject, no "
        "corpus-wide work after training.",
    ),
    "compressibility_entropy": (
        "map-only entropy floor, sequential-fold determinism",
        "Char explode, sorted-distinct counts, and the -p*log2(p) fold "
        "all fuse into one projection (no Exchange). The fold order is "
        "pinned (sorted distinct chars) so the oracle sums identically; "
        "the deflate twin's both-tails curation signal at scan speed.",
    ),
    "html_extract": (
        'staged charref decode, map-only, stages uncollapsed',
        'Round 9: the numeric-character-reference table decodes in '
        "five gated 55-replace chunk projections (both engines' "
        'parsers reject the one-shot ~300-deep nesting). '
        'CollapseProject leaves the stages intact — each chunk '
        'references its input twice via the gate CASE — so the plan '
        'is a ladder of Projects over one scan; the single Exchange '
        "is the entry's fan_out of the one-file corpus, not the "
        "operator. Rows without '&#' skip every chunk at runtime via "
        'the shared Contains gate. '
    ,),
    "line_quality_filter": (
        'staged extraction + one narrow Generate, predicate inside codegen',
        'Refreshed round 9: extraction is now the staged charref '
        'pipeline (ladder of chunk Projects); the C4 line predicate '
        'still prunes inside the single narrow posexplode Generate — '
        'nothing shuffles. '
    ,),
    "c4_clean_documents": (
        'line rules + page rule + reassembly in ONE shuffle',
        'Refreshed round 9 (staged extraction upstream): one narrow '
        'Generate, the keep-predicate evaluated pre-shuffle, one doc- '
        'id aggregation for ordered reassembly, HAVING applies the '
        'page rule at the aggregate. '
    ,),
    "line_dedup": (
        'md5-fingerprint keeper join; agg keeper (no Window)',
        'Round 9: the keeper aggregate and the equi-join both key on '
        'the 16-byte md5(line) fingerprint (__lfp), so the keeper '
        'exchange and the join never carry raw line text — at crawl '
        'scale that halves the text bytes moved. Keeper is still '
        'min(struct(id, line_no)) with map-side partial aggregation '
        '(no Window: a hot boilerplate line never concentrates on one '
        'task); one doc-id shuffle reassembles survivors. '
    ,),
    "script_profile": (
        'literal-range counters (nine scripts) + dominance CASE, map-only',
        'All script counters and the dominance CASE fuse into one '
        'projection; no shuffle, no UDF. The unicode ranges are '
        'literal endpoints, identical bytes in both engines. '
    ,),
    "url_keyword_filter": (
        'one codegen filter, no join',
        'The path extraction and the contains() chain fold into the '
        'scan-side filter. Contrast blocklist_filter (an anti join '
        'against a config table): a keyword list is a literal, so no '
        'join exists at all. '
    ,),
    "extract_links": (
        'regexp_extract_all + posexplode_outer, extraction not cloned into the scan',
        'posexplode_outer keeps the extraction out of a pushed '
        'size()>0 filter (plain explode clones the regexp into the '
        'scan filter - doubled regex work). '
    ,),
    "link_graph_stats": (
        'extraction + ONE aggregation shuffle on the domain key',
        'Host/domain parsing of each href is map-side; the only '
        'Exchange is the partial_count/count_distinct rollup on '
        'domain. '
    ,),
    "domain_token_budget": (
        'skew-safe bucketed two-pass (behind the skew_safe flag)',
        'Round 9 (skew_safe=True; the simple single-window form stays '
        'the default — measured cheaper at every scale on healthy '
        'domain distributions, see SCALE.md): md5-prefix buckets '
        '(first two hex chars of the order key — 256 uniform, order- '
        'preserving slices per domain). Pass 1: token sums per '
        '(domain, __b) + a cumulative window over the ≤256 bucket '
        'rows; buckets whose carry-in exceeds the budget are PRUNED '
        "before anything else moves (a mega-domain's tail never "
        'reshuffles). Pass 2: per-doc cumulative window partitioned '
        'by (domain, __b) — ≤ ~1/256 of a domain per task; no window '
        'partitions on the bare domain (plan-pinned in '
        'tests/test_domains.py). Output identical to the single- '
        'window form. '
    ,),
    "crawl_snapshot_merge": (
        'O(batch) reduce + full-outer SMJ; corpus side bucketable to zero exchange',
        'Refreshed round 9: the status CASE now computes from the '
        'WINNING side (older re-captures label stale_capture, never '
        'changed). Shape unchanged: WindowGroupLimit-pruned per-side '
        'reduces, one full-outer merge on nurl; bucket the corpus '
        'side by nurl for zero corpus exchange (plan-pinned in '
        'tests/test_domains.py). '
    ,),
    "crawl_delta_counts": (
        'merge + one map-side-combinable status rollup',
        'The status labels are computed in the join projection; the '
        "final groupBy('status') is a 4-row aggregate with map-side "
        'combine. '
    ,),
    "robots_noindex_flags": (
        'one codegen regex flag, zero Exchange',
        'The robots meta-noindex verdict is a single map-only '
        'projection: one shared-template regexp_extract + Contains '
        'over the raw lowercased HTML. No shuffle anywhere; the '
        'funnel reuses the same expression as a counted flag. '
    ,),
    "warc_record_index": (
        'container build + ONE MapInPandas; index rows are the only small artifact',
        'attach_warc groups docs by container id (the one doc shuffle '
        'any ingest pays) and builds real ISO 28500 bytes executor- '
        'side in FlatMapGroupsInPandas; warc_record_index fan_outs '
        'container rows and parses them in a single MapInPandas — '
        'container bytes never shuffle, only the ~100-byte index rows '
        'leave the stage. At 100 TB the payload fetch that follows is '
        'offset-addressed (bounded range reads off this index), which '
        'is the point. '
    ,),
    "crawl_frontier": (
        'authority rollup + anti join + pruning rank',
        'One aggregation shuffle on the canonical URL (map-side '
        'combinable), a left-anti join against the crawled URL index '
        '(at scale the same bucketed-by-nurl table '
        'crawl_snapshot_merge maintains — zero corpus- side exchange, '
        'the incremental_dedup layout), and one per-domain window '
        'whose WindowGroupLimit prunes to the cap before the final '
        'rank — hot domains are exactly what the cap truncates. '
    ,),
    "web_curation_funnel": (
        'three map-side gates in ONE aggregate + gated page clean',
        'Round 9: the robots meta-noindex gate joins the URL keyword '
        'and domain blocklist flags in the single stack()ed aggregate '
        '(no joins for the gates); the page clean runs only over __g3 '
        'survivors; the dedup stage is one count-distinct on nurl. '
    ,),
    "frontier_schedule": (
        'frontier + broadcast delay join, no new window',
        "The per-domain rank computed by crawl_frontier's pruning "
        'window IS the schedule; the delay table broadcasts and '
        'fetch_at_s is pure arithmetic — one BroadcastHashJoin on top '
        'of the frontier plan. '
    ,),
    "sitemap_locs": (
        'volunteered-URL extraction, map-only over distinct domains',
        'Distinct domains (one small aggregate), per-domain sitemap '
        'synthesis, regexp_extract_all + narrow posexplode_outer — '
        'the extract_links geometry applied to sitemap <loc> entries. '
    ,),
    "http_response_index": (
        "one applyInPandas synth + ONE fused MapInPandas envelope walk",
        "The HTTP envelope parse rides the SAME fused container walk as "
        "the WARC index: the only exchange is the doc-group shuffle "
        "feeding the container build; container bytes never move again "
        "— the ~100-byte envelope facts (status, charset, body range, "
        "digest_ok) are the only shuffled output.",
    ),
    "http_charset_transcode": (
        "wire codings + charset decode inside the same walk",
        "Chunked/gzip decode and the declared-charset transcode happen "
        "in the one MapInPandas pass, on bytes already in cache — zero "
        "extra Exchange over the plain index walk.",
    ),
    "cdx_zipnum_index": (
        "index-over-the-index: one global rank window over CDX rows",
        "The zipnum blocking ranks ~100-byte CDX rows, never container "
        "bytes; the window is the documented globally-ordered artifact "
        "(the real system publishes a totally ordered index), and "
        "publish_zipnum_sharded is the range-partitioned formulation "
        "that blocks within each shard, with no global window.",
    ),
    "cc_ingest_funnel": (
        "six single-row aggregates over persisted containers",
        "The composed funnel reuses ONE persisted container build for "
        "both walks (index + transcode); every stage is a count over "
        "slim index/transcode rows, unioned — no stage re-reads "
        "containers.",
    ),
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    out = [
        "# PLANS — executed physical plans (post-AQE) at sf0.01",
        "",
        "Regenerate with `python tools/dump_plans.py`. Each plan is captured",
        "after execution so AQE's runtime re-planning (broadcast conversion,",
        "partition coalescing) is visible — this is what actually ran.",
        "",
    ]
    for name, (headline, why) in ANNOTATED.items():
        df = qs[name](spark, sf_dir)
        # execute the frame's own plan (the outputs are small at sf0.01):
        # ``count()`` would run a different QueryExecution, leaving this
        # one's AQE plan unexecuted (isFinalPlan=false)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = re.sub(r"#\d+L?", "", plan)  # strip expr ids for stable diffs
        lines = plan.splitlines()
        if len(lines) > 40:
            lines = lines[:40] + [f"... ({len(lines) - 40} more lines)"]
        out += [
            f"## {name} — {headline}",
            "",
            why,
            "",
            "```",
            *lines,
            "```",
            "",
        ]
    with open(os.path.join(ROOT, "docs", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote docs/PLANS.md ({len(ANNOTATED)} plans)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
