"""Executed-plan regression guards for properties we engineered and then
watched Catalyst un-engineer.

These assert on physical-plan text after an action (post-AQE), catching:
* filter pushdown reaching the parquet scan (the point of declarative IO);
* the simhash pushdown pathology — a join null-filter once rewrote
  isnotnull(band_val) into isnotnull(<entire fingerprint expr>) and pushed
  it INTO the scan (O(bits²·tokens)/row); the pandas-UDF barrier must keep
  expensive derived keys out of FileScan DataFilters;
* corpus_filter staying a single-shuffle window plan, not a self-join.
"""

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def _executed(df):
    df.count()  # force execution so AQE finalizes
    return df._jdf.queryExecution().executedPlan().toString()


def scan_lines(plan: str) -> list[str]:
    return [l for l in plan.splitlines() if "FileScan" in l]


class TestPlanShapes:
    def test_q1_filter_reaches_scan(self, spark):
        plan = _executed(E.queries()["q1_pricing_summary"](spark, SF))
        scans = scan_lines(plan)
        assert any("PushedFilters" in l and "l_shipdate" in l for l in scans)
        # column pruning: the scan reads only the 7 needed columns, not 11
        assert any("ReadSchema" in l and "l_partkey" not in l for l in scans)

    def test_q3_dims_broadcast(self, spark):
        plan = _executed(E.queries()["q3_shipping_priority"](spark, SF))
        assert "SortMergeJoin" not in plan  # dims broadcast at this scale
        assert "TakeOrderedAndProject" in plan  # top-k never full-sorts

    def test_simhash_expensive_expr_stays_out_of_scan(self, spark):
        plan = _executed(E.queries()["simhash_near_pairs"](spark, SF))
        for l in scan_lines(plan):
            assert "aggregate(" not in l and "xxhash64" not in l, (
                "fingerprint expression leaked into a scan filter: " + l[:200]
            )
        assert "ArrowEvalPython" in plan or "InMemoryTableScan" in plan

    def test_corpus_filter_single_shuffle_no_join(self, spark):
        plan = _executed(E.queries()["corpus_filter"](spark, SF))
        assert "Join" not in plan  # keeper via window-min, not semi-join
        assert plan.count("Window") >= 1

    def test_ivf_probe_is_one_filtered_scan(self, spark):
        """The IVF probe must not recompute the corpus assignment: one
        map-only filtered scan + top-k — no window, no join, no exchange."""
        plan = _executed(E.queries()["ivf_topk"](spark, SF))
        assert "Window" not in plan
        assert "Join" not in plan
        assert "Exchange" not in plan
        assert "TakeOrderedAndProject" in plan

    def test_minhash_fast_path_has_no_md5(self, spark):
        """The production MinHash variant hashes with the xxhash64 intrinsic
        end-to-end (shingle base hashes AND band hashes) — md5+conv must not
        appear anywhere in its plan. (r14: the xxhash64 registry spelling
        was retired; the library fast path itself stays plan-pinned here.)"""
        from pgferry_spark.operators.dedup import lsh_bucket_table

        d = spark.read.parquet(f"{SF}/documents.parquet")
        plan = _executed(lsh_bucket_table(
            d, "text", "doc_id", num_hashes=12, bands=4, shingle=3,
            hash_fn="xxhash64",
        ))
        assert "md5" not in plan
        assert "xxhash64" in plan

    def test_migration_reads_each_table_once(self, spark, tmp_path):
        """The movement phase must not re-read FK-involved tables for parent
        caching or validation (the round-1 triple-read)."""
        from pgferry_spark.backends import ParquetSource, SpoolTarget
        from pgferry_spark.config import MigrationConfig
        from pgferry_spark.pipeline import MigrationPipeline
        from pgferry_spark.types import map_parquet_default, map_parquet_type

        class CountingSource(ParquetSource):
            def __init__(self, *a, **kw):
                super().__init__(*a, **kw)
                self.reads = {}

            def read_table(self, spark, table, predicates):
                self.reads[table.pg_name] = self.reads.get(table.pg_name, 0) + 1
                return super().read_table(spark, table, predicates)

        src = CountingSource(
            spark, SF,
            tables=("customer", "orders", "events"),
            pks={"customer": "c_custkey", "orders": "o_orderkey", "events": "event_id"},
        )
        cfg = MigrationConfig(
            source_type="parquet", source_dsn=SF, target_dsn="spool://x",
            target_schema="tpch",
        )
        result = MigrationPipeline(
            spark, cfg, src, SpoolTarget(spark, str(tmp_path / "once_out")),
            map_parquet_type, map_parquet_default,
        ).run()
        assert result.ok
        assert src.reads == {"customer": 1, "orders": 1, "events": 1}

    def test_migration_schedules_few_jobs(self, spark, tmp_path, jobs_in_group):
        """Planning/accounting must come from parquet footer metadata, not
        Spark jobs: one listing job per table plus the write itself. The
        round-1 pipeline scheduled ~15 jobs/table (min-max probe, count-
        before-write, count-after-write, validation re-reads); footer-based
        planning cut it to ~2/table, which is what keeps the driver-side
        orchestration negligible at 1000 executors. Budget leaves headroom
        for one AQE retry but fails on any per-table regression."""
        from pgferry_spark.backends import ParquetSource, SpoolTarget
        from pgferry_spark.config import MigrationConfig
        from pgferry_spark.pipeline import MigrationPipeline
        from pgferry_spark.types import map_parquet_default, map_parquet_type

        src = ParquetSource(
            spark, SF,
            tables=("customer", "orders", "events"),
            pks={"customer": "c_custkey", "orders": "o_orderkey", "events": "event_id"},
        )
        cfg = MigrationConfig(
            source_type="parquet", source_dsn=SF, target_dsn="spool://x",
            target_schema="tpch",
        )
        j0 = jobs_in_group(None)
        result = MigrationPipeline(
            spark, cfg, src, SpoolTarget(spark, str(tmp_path / "jobs_out")),
            map_parquet_type, map_parquet_default,
        ).run()
        assert result.ok
        assert len(jobs_in_group(None) - j0) <= 4 * 3  # 3 tables

    def test_footer_stats_match_spark_aggregates(self, spark):
        """The footer-metadata shortcuts must agree exactly with the
        distributed aggregates they replace."""
        from pyspark.sql import functions as F

        from pgferry_spark.backends import ParquetSource

        src = ParquetSource(spark, SF, tables=("orders",), pks={"orders": "o_orderkey"})
        table = src.introspect().tables[0]
        df = src.read_table(spark, table, None)
        assert src.count(table) == df.count()
        lo, hi = src.min_max(table, "o_orderkey")
        row = df.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
        assert (lo, hi) == (row[0], row[1])


class TestRound2PlanShapes:
    """Guards for the ranking/filter family's measured pathologies."""

    def test_contamination_ngram_expr_stays_out_of_scan(self, spark):
        """explode_outer must keep Catalyst from cloning the shingle
        construction (transform/array_join) into a pre-shuffle scan
        filter — the measured ~10x pushdown pathology."""
        plan = _executed(E.queries()["contamination_check"](spark, SF))
        for l in scan_lines(plan):
            assert "array_join" not in l and "transform" not in l, (
                "shingle expression leaked into a scan filter: " + l[:200]
            )

    def test_bm25_single_tokenizing_scan(self, spark):
        """BM25 must tokenize once into the cached narrow table: every
        consumer reads InMemoryTableScan, and the final plan is an
        ordered take, not a full sort."""
        plan = _executed(E.queries()["bm25_topk"](spark, SF))
        assert "InMemoryTableScan" in plan
        assert "TakeOrderedAndProject" in plan

    def test_repetition_stats_no_shuffle(self, spark):
        """Map-only apart from fan_out's input spread: no aggregate or
        join exchanges."""
        plan = _executed(E.queries()["repetition_stats"](spark, SF))
        assert "Join" not in plan
        assert "HashAggregate" not in plan

    def test_quantize_no_exchange(self, spark):
        """int8 quantization is one map-only projection."""
        plan = _executed(E.queries()["quantize_embeddings"](spark, SF))
        assert "Exchange" not in plan.replace("REPARTITION", "")
        assert "Join" not in plan and "HashAggregate" not in plan

    def test_rate_anomalies_window_over_aggregated(self, spark):
        """The z-score window must run above the bucket aggregate (tiny
        table), and the bucket aggregate must be partial (map-side)."""
        plan = _executed(E.queries()["rate_anomalies"](spark, SF))
        assert "Window" in plan
        assert "partial_count" in plan


class TestRound3PlanShapes:
    """Guards for the round-3 map-only IVF assignment and job-free LSH
    construction (VERDICT r2 'What's wrong' #1/#2)."""

    def test_ivf_assign_map_only(self, spark):
        """Assignment folds centroids in as literals: per-row argmax, no
        crossJoin+window — the old shape shuffled C copies of every row
        (1024x the corpus at C=1024)."""
        plan = _executed(E.queries()["ivf_assign"](spark, SF))
        assert "Exchange" not in plan
        assert "Window" not in plan
        assert "Join" not in plan

    def test_ivf_kmeans_assign_map_only(self, spark):
        plan = _executed(E.queries()["ivf_kmeans_assign"](spark, SF))
        assert "Exchange" not in plan
        assert "Window" not in plan
        assert "Join" not in plan

    def test_lsh_construction_launches_zero_jobs(self, spark, jobs_in_group):
        """Building the LSH bucket table / near-dup plan must not run a
        driver action (the old df.first() dimension probe was a blocking
        job scheduled before the main job)."""
        from pyspark.sql import functions as F

        from pgferry_spark.operators import dedup, similarity
        from pgferry_spark.sources.parquet import read_parquet

        e = read_parquet(spark, SF + "/embeddings.parquet")
        j0 = jobs_in_group(None)
        bucket = similarity.lsh_bucket_batch_lazy(8)
        e.select("vec_id", bucket(F.col("embedding").cast("array<double>")))
        dedup.embedding_near_dup_pairs_lsh(e, "embedding", "vec_id")
        assert jobs_in_group(None) == j0

    def test_capped_winnow_whitelist_broadcasts(self, spark):
        """The df-cap whitelist must reach the fingerprint table as a
        BROADCAST semi-join — a shuffled join here would move the whole
        (doc_id, fp) table just to drop boilerplate fingerprints."""
        plan = _executed(E.queries()["winnow_shared_pairs_capped"](spark, SF))
        assert "BroadcastHashJoin" in plan
        left_semis = [
            l for l in plan.splitlines() if "LeftSemi" in l
        ]
        assert left_semis and all("SortMerge" not in l for l in left_semis)

    def test_lazy_planes_match_driver_planes(self, spark):
        """Executor-side plane generation must be byte-identical to the
        driver-side formulation: the lazy UDF's buckets equal the
        expression fold's over the driver's planes."""
        from pyspark.sql import functions as F

        from pgferry_spark.operators import similarity
        from pgferry_spark.sources.parquet import read_parquet

        e = read_parquet(spark, SF + "/embeddings.parquet")
        bucket = similarity.lsh_bucket_batch_lazy(8)
        lazy = {
            (r["vec_id"], r["bucket"])
            for r in e.select(
                "vec_id",
                bucket(F.col("embedding").cast("array<double>")).alias("bucket"),
            ).collect()
        }
        planes = similarity.random_hyperplanes(64, 8, 42)
        eager = {
            (r["vec_id"], r["bucket"])
            for r in e.select(
                "vec_id",
                similarity.lsh_bucket(F.col("embedding"), planes).alias("bucket"),
            ).collect()
        }
        assert lazy == eager and len(lazy) > 0


class TestLateRound3PlanShapes:
    """Guards for the round-3 span/PQ/SemDeDup family's engineered shapes."""

    def test_pq_encode_map_only(self, spark):
        """PQ encoding is register math against literal codebooks — one scan,
        zero shuffle, zero join, whatever the corpus size."""
        plan = _executed(E.queries()["pq_encode"](spark, SF))
        assert "Exchange" not in plan
        assert "Join" not in plan

    def test_span_dedup_exactly_two_shuffles(self, spark):
        """Keep-first window (span key) + reassembly agg (doc key) — and
        nothing else data-dependent. The third Exchange is the r8 fan_out
        REPARTITION ahead of the tokenize+explode map side (the sf1
        single-file parallelism-floor fix, BASELINE.md §11 r8): it
        shuffles 1x corpus rows by doc_id, NOT post-explode rows, and
        must stay exactly one REPARTITION."""
        plan = _executed(E.queries()["span_dedup"](spark, SF))
        assert plan.count("Exchange") == 3, plan
        assert plan.count("REPARTITION") == 1, plan
        assert "CartesianProduct" not in plan
        assert "Join" not in plan

    def test_semdedup_single_shuffle_no_join(self, spark):
        """Cell assignment is map-only literal-centroid math; the only
        Exchange is the per-cell applyInPandas grouping. Any Join means the
        assignment regressed to the crossJoin+window shape."""
        plan = _executed(E.queries()["semdedup"](spark, SF))
        assert plan.count("Exchange") == 1, plan
        assert "Join" not in plan


class TestBehavioralOpsPlanShapes:
    def test_user_funnel_single_shuffle_no_join(self, spark):
        """Sort/fold funnel: ONE Exchange (the user groupBy) and zero
        joins — the N-self-join formulation would shuffle once per step.
        The funnel-type filter must reach the scan."""
        plan = _executed(E.queries()["user_funnel"](spark, SF))
        assert plan.count("Exchange") == 1
        assert "Join" not in plan
        assert any("view" in l and "DataFilters" in l for l in scan_lines(plan))

    def test_chunk_documents_map_only(self, spark):
        plan = _executed(E.queries()["chunk_documents"](spark, SF))
        assert "Exchange" not in plan
        assert "Join" not in plan

    def test_weighted_sample_is_take_ordered(self, spark):
        """A-Res sampling must stay a TakeOrdered top-k (no global sort,
        no shuffle) with the weight filter pushed to the scan."""
        plan = _executed(E.queries()["weighted_sample"](spark, SF))
        assert "TakeOrderedAndProject" in plan
        assert "Exchange" not in plan

    def test_tfidf_pairs_no_nested_loop(self, spark):
        """APSS must stay equi-join blocked: any BroadcastNestedLoop or
        CartesianProduct means the token blocking degenerated to
        corpus-quadratic."""
        plan = _executed(E.queries()["tfidf_pairs"](spark, SF))
        # the postings subtree (which contains the benign 1-row corpus-
        # count cross join, q15's scalar pattern) must be CACHED so the
        # self-join's two sides read it instead of re-executing it: at
        # most one InMemoryRelation-internal BNLJ may appear, and the
        # pair join itself must stay an equi SortMergeJoin.
        assert plan.count("InMemoryTableScan") >= 2  # both sides read cache
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" in plan


class TestRound3AdditionsPlanShapes:
    def test_ivf_pq_index_map_only(self, spark):
        """The one-scan IVFADC index build is Arrow register math against
        literal centroids + codebooks: zero shuffle, zero join."""
        from pyspark.sql import functions as F

        from pgferry_spark.operators import similarity as S
        from pgferry_spark.sources.parquet import read_parquet

        e = read_parquet(spark, SF + "/embeddings.parquet")
        cents = S.ivf_centroids(e, "embedding", "vec_id", 8)
        books = S.pq_codebooks(e, "embedding", "vec_id", 4, 16)
        df = S.ivf_pq_index(e, "embedding", "vec_id", centroids=cents, codebooks=books)
        plan = _executed(df)
        assert "Exchange" not in plan
        assert "Join" not in plan

    def test_ivf_pq_probe_no_shuffle_topk(self, spark):
        """The ADC probe is a cell filter + literal-table lookups + top-k:
        TakeOrderedAndProject, no Exchange beyond it, no join against the
        raw vectors."""
        plan = _executed(E.queries()["ivf_pq_topk"](spark, SF))
        assert "TakeOrderedAndProject" in plan
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" not in plan

    def test_bigram_tokenizes_once_via_cache(self, spark):
        """tok_pos feeds three consumers; the persist must make them read
        the cache instead of re-running the corpus scan + explode."""
        plan = _executed(E.queries()["bigram_logprob"](spark, SF))
        assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan

    def test_q21_single_fact_branch(self, spark):
        """The per-order rollup is a WINDOW over the per-(order, supplier)
        aggregate — a self-join rollup would duplicate the fact scan +
        orders join per branch. Exactly one lineitem scan may appear in
        the final (non-reused) plan tree."""
        plan = _executed(E.queries()["q21_adapted"](spark, SF))
        assert "Window" in plan
        # final plan tree: count FileScans of lineitem outside reused
        # subtree printouts by taking the first AdaptiveSparkPlan section
        final = plan.split("+- == Initial Plan ==")[0]
        assert final.count("lineitem.parquet") <= 1 or "ReusedExchange" in plan

    def test_trust_propagation_rounds_are_bounded(self, spark):
        """Two propagation rounds = a static plan (no iterative driver
        actions); the edge joins stay equi-joins."""
        plan = _executed(E.queries()["trust_propagation"](spark, SF))
        assert "CartesianProduct" not in plan


class TestRound4PlanShapes:
    def test_lsh_knn_join_no_cartesian(self, spark):
        """Batch kNN retrieval joins on (band, band_val) hash keys: never a
        Cartesian/NestedLoop between queries and corpus."""
        plan = _executed(E.queries()["lsh_knn_join"](spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_retention_cohorts_two_shuffles(self, spark):
        """distinct user-day → cohort-min → offset counts: the fact pays
        the distinct; everything after runs on user-sized/bounded tables.
        No join back to the raw events."""
        plan = _executed(E.queries()["retention_cohorts"](spark, SF))
        assert "CartesianProduct" not in plan
        final = plan.split("+- == Initial Plan ==")[0]
        assert final.count("events.parquet") <= 1

    def test_knn_graph_capped_no_extra_wide_shuffle(self, spark):
        """The hot-bucket cap must reuse the (band_id, band_val)
        partitioning: the count aggregate + semi-join add NO exchange on a
        different key — every Exchange in the plan hashes the band
        columns (or is the final window's src repartition)."""
        plan = _executed(E.queries()["knn_graph_capped"](spark, SF))
        assert "CartesianProduct" not in plan
        import re

        exchanges = [
            l for l in plan.splitlines() if "Exchange hashpartitioning" in l
        ]
        for l in exchanges:
            assert ("band_id" in l and "band_val" in l) or re.search(
                r"hashpartitioning\(src", l
            ), f"unexpected shuffle key: {l[:160]}"

    def test_ivf_pq_rerank_fetch_is_broadcast_semi_join(self, spark):
        """Stage-2 raw-vector fetch joins the corpus against the bounded
        shortlist: must be a broadcast join (shortlist side), never a
        SortMergeJoin shuffling the corpus."""
        plan = _executed(E.queries()["ivf_pq_rerank_topk"](spark, SF))
        assert "SortMergeJoin" not in plan
        assert "TakeOrderedAndProject" in plan

    def test_image_meta_real_map_only(self, spark):
        """Generate + decode are two chained mapInPandas passes: zero
        shuffle besides the fan-out repartition, no join."""
        plan = _executed(E.queries()["image_meta_real"](spark, SF))
        assert "Join" not in plan

    def test_dsir_ratio_join_broadcasts(self, spark):
        """The bucket log-ratio table is ≤ n_buckets rows and must come
        back as a broadcast join — a SortMergeJoin here would shuffle the
        whole feature stream against 4096 rows."""
        plan = _executed(E.queries()["dsir_weights"](spark, SF))
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan

    def test_cross_corpus_candidates_are_equi_join(self, spark):
        """Two-table decontamination must never degenerate to
        |bench| x |corpus|: candidates come from the (band_id, band_hash)
        hash equi-join, verify from gram equi-joins."""
        plan = _executed(E.queries()["cross_corpus_near_dup"](spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_profile_table_single_aggregate_pass(self, spark):
        """Every per-column statistic rides ONE aggregate over one scan —
        no per-column jobs, no joins."""
        plan = _executed(E.queries()["profile_orders"](spark, SF))
        assert "Join" not in plan
        final = plan.split("+- == Initial Plan ==")[0]
        assert final.count("orders.parquet") <= 1


class TestRound5PlanShapes:
    def test_quality_twin_weights_join_broadcasts(self, spark):
        """The <=4096-row log-odds weight table must come back as a
        broadcast join against the token-bucket stream — a SortMergeJoin
        here would shuffle the whole corpus's token stream against a
        dictionary-sized table."""
        plan = _executed(E.queries()["quality_twin_auc"](spark, SF))
        assert "BroadcastHashJoin" in plan
        # (the 1-row class-total crossJoin legitimately plans as a
        # broadcast nested loop; the corpus-sized joins must not)
        assert "CartesianProduct" not in plan

    def test_boilerplate_ngrams_no_join_bounded_sort(self, spark):
        """Gram counting is one aggregate; top-k must be TakeOrdered (never
        a global sort of the gram vocabulary), and the only join allowed
        is the 1-row doc-total broadcast."""
        plan = _executed(E.queries()["boilerplate_ngrams"](spark, SF))
        assert "TakeOrderedAndProject" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_capped_lsh_pairs_no_extra_wide_shuffle(self, spark):
        """The max_bucket cap must ride the bucket partitioning (semi-join
        against counts aggregated on the SAME keys) — capped and uncapped
        plans shuffle the bucket table on (band_id, band_hash) alike; the
        cap must not introduce a Cartesian or nested-loop join."""
        plan = _executed(E.queries()["lsh_candidate_pairs_capped"](spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_capped_cross_corpus_equi_join_only(self, spark):
        plan = _executed(E.queries()["cross_corpus_near_dup_capped"](spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_mixture_epochs_map_only(self, spark):
        """The epoch map is a literal and the repeat a sequence-explode:
        no join, no window, no Exchange — pure map work."""
        plan = _executed(E.queries()["mixture_epochs"](spark, SF))
        assert "Join" not in plan
        assert "Exchange" not in plan
        assert "Window" not in plan


class TestSketchPlanShapes:
    def test_hll_registers_single_aggregate_exchange(self, spark):
        """The register table is ONE hash aggregate: exactly one shuffle
        (keyed on group+bucket, at most groups*256 rows), map-side
        partial combine doing the max — the whole scale story."""
        plan = _executed(E.queries()["hll_registers"](spark, SF))
        assert plan.count("Exchange") == 1
        assert "Join" not in plan

    def test_hll_union_estimate_broadcast_only(self, spark):
        """Merging + estimating touches register-table-sized data; the
        exact-distinct comparison column is a 1-row broadcast. No
        sort-merge join, no Cartesian against corpus-sized data."""
        plan = _executed(E.queries()["hll_union_estimate"](spark, SF))
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_cms_sketch_single_aggregate(self, spark):
        """depth*width-bounded cell table from one aggregate over the
        exploded token stream; no join anywhere."""
        plan = _executed(E.queries()["cms_token_sketch"](spark, SF))
        assert "Join" not in plan

    def test_bloom_probe_broadcasts_bits(self, spark):
        """The bit table (<= num_bits rows) must broadcast to the probe
        side; a shuffle join here would defeat the filter's purpose."""
        plan = _executed(E.queries()["bloom_custkey_probe"](spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_exact_substring_spans_no_cartesian(self, spark):
        """Window keys join back as an equi-join on the md5 hash; the
        keeper is an aggregate (no per-window occurrence-list blowup)."""
        plan = _executed(E.queries()["exact_substring_spans"](spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_exact_suffix_spans_no_cartesian_no_suffix_text(self, spark):
        """round 14: the exact 50-char suffix-bucket detector joins back
        on the md5 key only (equi-join, never all-pairs), and the
        exchange after key hashing must not carry the suffix text column
        — the shuffle is (id, pos, off, hash)."""
        df = E.queries()["exact_substring_spans_exact"](spark, SF)
        plan = _executed(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestLoghistCompactionPlanShapes:
    def test_loghist_counts_single_aggregate_exchange(self, spark):
        """The histogram is ONE hash aggregate over exact integer bucket
        math: one shuffle keyed on (group, e, sub) — at most 63*k rows
        per group — with map-side partial combine. No join, no window
        touches the raw column."""
        from pgferry_spark.operators.sketches import loghist_counts

        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        plan = _executed(
            loghist_counts(li, "l_extendedprice", group_cols=("l_returnflag",))
        )
        assert plan.count("Exchange") == 1
        assert "Join" not in plan
        assert "Window" not in plan

    def test_loghist_quantiles_windows_histogram_not_data(self, spark):
        """The quantile read-off joins/windows only histogram-sized rows:
        no sort-merge join against the fact table, no Cartesian. (The
        scorecard query's exact-percentile column is a separate branch.)"""
        plan = _executed(E.queries()["loghist_price_quantiles"](spark, SF))
        assert "CartesianProduct" not in plan

    def test_hll_intersect_broadcast_only(self, spark):
        """Three single-row estimates combine via broadcast nested-loop
        on 1-row frames; nothing corpus-sized is ever joined."""
        plan = _executed(E.queries()["hll_intersect_customers"](spark, SF))
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_compaction_plan_single_manifest_window(self, spark):
        """One aggregate builds the file manifest, one partitioned window
        assigns bins — both over file METADATA rows. No join at all."""
        plan = _executed(E.queries()["compaction_plan"](spark, SF))
        assert "Join" not in plan
        assert plan.count("Window") == 1

    def test_cms_join_size_no_cartesian(self, spark):
        """The dot product joins two <= depth*width-row cell tables on
        (row, col); the exact-count scorecard branch is a separate
        equi-join; the only nested-loop is the 1-row broadcast combine."""
        plan = _executed(E.queries()["cms_join_size_custkey"](spark, SF))
        assert "CartesianProduct" not in plan

    def test_hll_rolling_users_explodes_registers_not_events(self, spark):
        """The window explode multiplies REGISTER rows (<= 256/day), not
        events: exactly one aggregate touches event-cardinality data;
        everything after is register-table-sized. No join in the sketch
        path (the exact-count scorecard branch joins on day only)."""
        plan = _executed(E.queries()["hll_rolling_users"](spark, SF))
        assert "CartesianProduct" not in plan
        # the generator (explode) must sit ABOVE the first aggregate:
        # its input is the register table, so the plan has an aggregate
        # below the generate node feeding it
        assert "Generate explode" in plan

    def test_exact_substring_scrub_no_cartesian(self, spark):
        """Span application joins tokens to spans on the document id
        (equi) with a range predicate — never a Cartesian; rebuild is a
        per-document aggregate, no global sort."""
        plan = _executed(E.queries()["exact_substring_scrub"](spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_spans_chars_floor_equi_join_only(self, spark):
        """The char-floor variant adds exactly one equi-join of the
        duplicate-bounded span table back to the token projection — no
        Cartesian, no nested loop."""
        plan = _executed(E.queries()["exact_substring_spans_chars"](spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_image_meta_jpeg_map_only(self, spark):
        """JPEG generate+decode is a pure per-row pipeline over Arrow
        batches: no join, no aggregate exchange — the only Exchange is
        the fan_out repartition."""
        plan = _executed(E.queries()["image_meta_jpeg"](spark, SF))
        assert "Join" not in plan
        assert "Window" not in plan

    def test_t_closeness_broadcast_global_no_cartesian(self, spark):
        """The global sensitive-value distribution joins in as a
        broadcast (|V| rows); class math shuffles on the quasi key only;
        absent values never materialize a classes x values join."""
        plan = _executed(E.queries()["t_closeness"](spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan  # nothing big joins big here

    def test_video_frame_index_map_only(self, spark):
        """Generate + parse + explode is a pure per-row pipeline over
        Arrow batches: no join, no window, no aggregate — the only
        Exchange is the fan_out repartition."""
        plan = _executed(E.queries()["video_frame_index"](spark, SF))
        assert "Join" not in plan
        assert "Window" not in plan

    def test_audio_segment_index_map_only(self, spark):
        plan = _executed(E.queries()["audio_segment_index"](spark, SF))
        assert "Join" not in plan
        assert "Window" not in plan

    def test_pii_luhn_cards_map_only(self, spark):
        """Synthesis + extraction + Luhn validation are pure JVM
        expressions over one scan: no shuffle at all."""
        plan = _executed(E.queries()["pii_luhn_cards"](spark, SF))
        assert "Exchange" not in plan
        assert "Join" not in plan

    def test_compressibility_entropy_map_only(self, spark):
        plan = _executed(E.queries()["compressibility_entropy"](spark, SF))
        assert "Exchange" not in plan
        assert "Join" not in plan

    def test_ivf_kmeans_exact_probe_map_only(self, spark):
        """Trained-index probe: cell membership is per-row register math
        against the trained centroid literals, then an ordered take —
        no join, no shuffle in the probe plan."""
        plan = _executed(E.queries()["ivf_kmeans_exact_topk"](spark, SF))
        assert "Join" not in plan
        assert "Exchange hashpartitioning" not in plan
        assert "TakeOrderedAndProject" in plan

    def test_kmeans_final_assignment_map_only(self, spark):
        """The iterations run eagerly at build time (one bounded decimal
        aggregate each); the RETURNED assignment plan is pure map work
        against broadcast centroid literals — no join, no shuffle."""
        plan = _executed(E.queries()["kmeans_exact_assign"](spark, SF))
        assert "Join" not in plan
        assert "Exchange hashpartitioning" not in plan

    def test_pii_card_gate_map_only(self, spark):
        plan = _executed(E.queries()["pii_card_gate"](spark, SF))
        assert "Exchange" not in plan
        assert "Join" not in plan

    def test_mmr_corpus_work_is_one_topk_scan(self, spark):
        """Only stage 1 (cosine top-n_candidates) touches the corpus: the
        plan is one ordered take over the scan; the greedy loop runs on
        the bounded candidate batch (single ArrowEvalPython/mapInPandas
        node after a coalesce(1)) — no join, no shuffle of corpus rows."""
        plan = _executed(E.queries()["mmr_diversify"](spark, SF))
        assert "TakeOrderedAndProject" in plan
        assert "Join" not in plan
        assert "Exchange hashpartitioning" not in plan

    def test_mmr_ivf_probe_no_join_no_corpus_shuffle(self, spark):
        """The IVF-probed MMR variant keeps the ivf_topk probe plan:
        per-row cell membership against broadcast centroid literals (one
        filtered scan, no join), then the same bounded greedy batch."""
        plan = _executed(E.queries()["mmr_diversify_ivf"](spark, SF))
        assert "Join" not in plan
        assert "Exchange hashpartitioning" not in plan
        assert "TakeOrderedAndProject" in plan

    def test_dedup_keep_best_single_aggregate_no_window(self, spark):
        """The quality-aware keeper is ONE map-side-combinable aggregate
        shuffle (max(struct(score,-id)) per fingerprint) — no window
        materialization of hot duplicate groups, no join."""
        plan = _executed(E.queries()["dedup_keep_best"](spark, SF))
        assert "Window" not in plan
        assert "Join" not in plan
        assert plan.count("Exchange hashpartitioning") == 1

    def test_hybrid_rrf_fuses_bounded_lists_no_cartesian(self, spark):
        """RRF fusion unions two already-bounded top-N lists and ranks
        them in one window pass partitioned by list index — no join at
        all in the fusion stage (the candidate generators keep their own
        plans — bm25's 1-row stats broadcasts surface as bounded
        BroadcastNestedLoopJoins, the repo-wide accepted shape); final
        cut is an ordered take, not a full sort."""
        plan = _executed(E.queries()["hybrid_rrf_topk"](spark, SF))
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan  # nothing big joins big
        assert "TakeOrderedAndProject" in plan
